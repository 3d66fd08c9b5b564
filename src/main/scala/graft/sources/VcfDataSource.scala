package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 VCF source: `spark.read.format("vcf").load(path)`.
  *
  * The header (KB-sized) is read ONCE driver-side and drives the typed
  * variants schema exactly like the reference's ##INFO-based inference;
  * body parsing happens in executor-side PartitionReaders over byte-range
  * splits (plain text and BGZF alike; see VcfScan.planInputPartitions),
  * sized by Spark's own file-source rule so a file fans out across the
  * session's cores. Column pruning is pushed into the parse: unread INFO
  * columns and per-sample arrays are never computed.
  */
class VcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vcf"

  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("vcf source requires a path"))

  private def paths(options: CaseInsensitiveStringMap): Seq[String] =
    VcfDataSource.files(pathOf(options), hadoopConf)

  private def headerLines(path: String): Vector[String] =
    VcfDataSource.headerLines(path, hadoopConf)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // `header` names a VCF (file or exported shard dir) whose ## header
    // drives the schema INSTEAD of the target path's first shard — the
    // write path's seam: a fresh output directory has no shard to
    // infer from, so `df.write.format("vcf").option("header", ...)`
    // supplies the header that both types the table and is stamped
    // into every written shard.
    Option(options.get("header")) match {
      case Some(hp) =>
        VcfReader.variantSchema(VcfParser.parseHeader(headerAt(hp)))
      case None =>
        val ps = paths(options)
        VcfReader.variantSchema(VcfParser.parseHeader(headerLines(ps.head)))
    }
  }

  /** Header lines from an explicit `header` option value, which may be
    * a single VCF or a sharded export directory (first shard wins —
    * exportVcf stamps the identical header into every shard).
    */
  private def headerAt(p: String): Vector[String] = {
    val hp = new Path(p)
    val fs = FileSystem.get(hp.toUri,
      SparkSession.active.sessionState.newHadoopConf())
    val target =
      if (fs.isDirectory(hp))
        fs.listStatus(hp).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(_.getPath.toString).sorted.headOption
          .getOrElse(throw new IllegalArgumentException(
            s"vcf header option points at an empty directory: $p"))
      else p
    headerLines(target)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    Option(opts.get("header")) match {
      case Some(hp) =>
        // explicit header (write mode, or forced-header read): the
        // target path may not exist yet, so no shard headers are read
        return new VcfTable(Nil, headerAt(hp), schema,
          Option(opts.get("path")))
      case None => ()
    }
    val (ps, first) = VcfDataSource.resolve(pathOf(opts), hadoopConf,
      opts.getBoolean("validateHeaders", true))
    new VcfTable(ps, first, schema, Option(opts.get("path")))
  }

  override def supportsExternalMetadata(): Boolean = false
}

private[sources] object VcfDataSource {
  /** The data files a path names: the file itself, a glob's matches, or
    * a directory's shards, sorted.
    */
  def files(p: String, conf: Configuration): Seq[String] = {
    val hp = new Path(p)
    val fs = FileSystem.get(hp.toUri, conf)
    val stats = fs.globStatus(hp)
    if (stats == null || stats.isEmpty) Seq(p)
    else stats.flatMap { st =>
      // the standard Hadoop hidden-file convention: _SUCCESS markers and
      // . temporaries in a Spark-written directory are not data shards
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
      else Seq(st.getPath.toString)
    }.sorted.toSeq
  }

  def headerLines(path: String, conf: Configuration): Vector[String] = {
    val hp = new Path(path)
    val in = FileSystem.get(hp.toUri, conf).open(hp)
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        VcfIo.maybeGunzip(path, in), "UTF-8"))
      Iterator.continually(reader.readLine())
        .takeWhile(l => l != null && l.startsWith("#"))
        .toVector
    } finally in.close()
  }

  /** The files of `path` and the first one's header lines. Multi-shard
    * cohorts must agree on the header-derived schema: the first file's
    * header drives every reader, so a shard declaring a different INFO
    * set would silently mis-parse. Headers are KB-sized and this runs
    * once per table resolution, driver-side.
    */
  def resolve(path: String, conf: Configuration,
      validateHeaders: Boolean = true): (Seq[String], Vector[String]) = {
    val ps = files(path, conf)
    val first = headerLines(ps.head, conf)
    if (ps.length > 1 && validateHeaders) {
      val want = VcfReader.variantSchema(VcfParser.parseHeader(first))
      ps.tail.foreach { p =>
        val got = VcfReader.variantSchema(VcfParser.parseHeader(headerLines(p, conf)))
        require(got == want,
          s"VCF shard header mismatch: $p infers schema\n  $got\nbut ${ps.head} infers\n  $want" +
            "\n(harmonize shard headers, or read shards separately; " +
            "set option validateHeaders=false to force first-header semantics)")
      }
    }
    (ps, first)
  }
}

/** Spark's file-source split rule (FilePartition.maxSplitBytes): a split
  * holds at most `maxPartitionBytes` and at least `openCostInBytes`,
  * and otherwise the total bytes (each file padded by the open cost)
  * spread over `minPartitions` — the session's parallelism unless
  * `spark.sql.files.minPartitionNum` says otherwise. Read from the
  * session when a scan is built.
  */
private[graft] case class SplitRule(maxPartitionBytes: Long,
    openCostInBytes: Long, minPartitions: Int) {
  def maxSplitBytes(lengths: Seq[Long]): Long = {
    val total = lengths.map(_ + openCostInBytes).sum
    math.min(maxPartitionBytes, math.max(openCostInBytes, total / minPartitions))
  }
}

private[graft] object SplitRule {
  def of(spark: SparkSession): SplitRule = {
    val c = spark.sessionState.conf
    SplitRule(c.filesMaxPartitionBytes, c.filesOpenCostInBytes,
      c.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism))
  }

  /** The split size that cuts a `len`-byte file into as many pieces as
    * `max` requires, all of one size: 15 MB at a 4.75 MB maximum reads as
    * four 3.75 MB splits, not three full ones and a 0.75 MB straggler.
    */
  def evenSize(len: Long, max: Long): Long = {
    val n = math.max(1L, (len + max - 1) / max)
    math.max(1L, (len + n - 1) / n)
  }
}

/** Compiled form of the pushable chrom/pos predicates — the region a
  * GEMINI-style query touches. Conjunction-only (Spark hands the scan
  * top-level AND legs), serializable to executors.
  */
private[sources] case class RegionFilter(
    chromIn: Option[Set[String]],
    posMin: Long,
    posMax: Long) {
  def accepts(chrom: String, pos: Long): Boolean =
    chromIn.forall(_.contains(chrom)) && pos >= posMin && pos <= posMax
  def isTrivial: Boolean =
    chromIn.isEmpty && posMin == Long.MinValue && posMax == Long.MaxValue
}

private[sources] object RegionFilter {
  val trivial: RegionFilter = RegionFilter(None, Long.MinValue, Long.MaxValue)

  private def num(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  /** True for the filter shapes this source can exploit. */
  def pushable(f: Filter): Boolean = f match {
    case EqualTo("chrom", _: String) => true
    case In("chrom", vs) => vs.forall(_.isInstanceOf[String])
    case EqualTo("pos", v) => num(v).isDefined
    case GreaterThan("pos", v) => num(v).isDefined
    case GreaterThanOrEqual("pos", v) => num(v).isDefined
    case LessThan("pos", v) => num(v).isDefined
    case LessThanOrEqual("pos", v) => num(v).isDefined
    case _ => false
  }

  def compile(filters: Seq[Filter]): RegionFilter =
    filters.foldLeft(trivial) { (r, f) =>
      f match {
        case EqualTo("chrom", v: String) =>
          r.copy(chromIn = Some(r.chromIn.fold(Set(v))(_ intersect Set(v))))
        case In("chrom", vs) =>
          val s = vs.collect { case v: String => v }.toSet
          r.copy(chromIn = Some(r.chromIn.fold(s)(_ intersect s)))
        case EqualTo("pos", v) =>
          val x = num(v).get
          r.copy(posMin = math.max(r.posMin, x), posMax = math.min(r.posMax, x))
        case GreaterThan("pos", v) => r.copy(posMin = math.max(r.posMin, num(v).get + 1))
        case GreaterThanOrEqual("pos", v) => r.copy(posMin = math.max(r.posMin, num(v).get))
        case LessThan("pos", v) => r.copy(posMax = math.min(r.posMax, num(v).get - 1))
        case LessThanOrEqual("pos", v) => r.copy(posMax = math.min(r.posMax, num(v).get))
        case _ => r
      }
    }
}

/** `rows` and `passOnly` are internal scan shapes (VcfReader.forLoad):
  * `format("vcf")` always reads decomposed variants, every record.
  */
private[sources] class VcfTable(paths: Seq[String], header: Vector[String],
    tableSchema: StructType, rawPath: Option[String],
    rows: VcfReader.LineRows = VcfReader.LineRows.Variants,
    passOnly: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"vcf(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VcfScanBuilder(paths, header, tableSchema,
      options.getBoolean("permissive", false),
      // an explicit splitSize (bytes) overrides the derived split rule
      Option(options.get("splitSize")).map(_.toLong),
      options.getBoolean("sorted", false), rows, passOnly)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val out = Option(info.options.get("path")).orElse(rawPath).getOrElse(
      throw new IllegalArgumentException("vcf write requires a path"))
    new VcfWriteBuilder(out, header, tableSchema,
      info.options.getInt("shards", 1))
  }
}

private[sources] class VcfScanBuilder(paths: Seq[String], header: Vector[String],
    full: StructType, permissive: Boolean, splitSize: Option[Long], sorted: Boolean,
    rows: VcfReader.LineRows, passOnly: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the scan's column ORDER stable (subset of the full schema)
    required = StructType(full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  /** chrom/pos predicates are pushed (split pruning + pre-parse row
    * skip); ALL filters are also returned as residual so Spark
    * re-evaluates them post-scan — pushdown here is a pure pruning
    * optimization and can never change results.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(RegionFilter.pushable)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val spark = SparkSession.active
    new VcfScan(paths, header, required, permissive, splitSize,
      SplitRule.of(spark), sorted, RegionFilter.compile(pushed.toSeq),
      spark.sessionState.newHadoopConf(), rows, passOnly)
  }
}

/** `hadoopConf` stays on the driver: planning reads it, and the reader
  * factory gets it as one broadcast, as Spark's file scans do, instead of
  * a serialized copy inside every task.
  */
private[sources] class VcfScan(paths: Seq[String], header: Vector[String],
    required: StructType, permissive: Boolean,
    splitSize: Option[Long], rule: SplitRule, sorted: Boolean, region: RegionFilter,
    hadoopConf: Configuration, rows: VcfReader.LineRows, passOnly: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"VcfScan pushed=$region splits=${splitSize.fold("auto")(_ + "B")} sorted=$sorted"

  /** First owned BODY-line (chrom, pos) of a split — the split-pruning
    * index key. Mirrors the reader's line-ownership rule (a reader
    * seeked past 0 discards the partial line it lands in).
    */
  private def firstKeyAt(fs: FileSystem, path: Path, start: Long): Option[(String, Long)] = {
    val in = fs.open(path)
    try {
      if (start > 0) in.seek(start)
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      if (start > 0) reader.readLine() // partial line belongs to the previous split
      Iterator.continually(reader.readLine())
        .takeWhile(_ != null)
        .find(VcfParser.isBodyLine)
        .flatMap(VcfScan.chromPosOf)
    } finally in.close()
  }

  /** First owned BODY-line key of a block-aligned BGZF split —
    * decompresses from the boundary block until one body line surfaces
    * (typically a single 64 KiB block). Same ownership rule as
    * firstKeyAt: a reader starting past 0 discards the line it lands
    * in. This is what extends sorted-input split pruning to compressed
    * shards: a region query over ONE giant sorted .vcf.gz now opens
    * only the block ranges that can intersect the region.
    */
  private def firstKeyAtBgzf(fs: FileSystem, path: Path, start: Long,
      fileLen: Long): Option[(String, Long)] = {
    val rdr = new BgzfLineReader(fs.open(path), start, fileLen)
    try {
      if (start > 0) rdr.readLine() // owned by the previous split
      Iterator.continually(rdr.readLine())
        .takeWhile(_ != null)
        .find(VcfParser.isBodyLine)
        .flatMap(VcfScan.chromPosOf)
    } finally rdr.close()
  }

  /** First BODY-line (chrom, pos) of a whole shard, decompressing when
    * the shard is gzip/BGZF — the cohort-level pruning key. Bounded
    * work: one shard head (header lines + 1 body line), not a scan.
    */
  private def firstShardKey(p: String): Option[(String, Long)] = {
    val hp = new Path(p)
    val fs = FileSystem.get(hp.toUri, hadoopConf)
    val in = fs.open(hp)
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        VcfIo.maybeGunzip(p, in), "UTF-8"))
      Iterator.continually(reader.readLine())
        .takeWhile(_ != null)
        .find(VcfParser.isBodyLine)
        .flatMap(VcfScan.chromPosOf)
    } finally in.close()
  }

  /** Whole-shard pruning for a sorted multi-shard cohort (the dominant
    * real-world layout: a BGZF shard per scatter region). `sorted=true`
    * over >1 file asserts the shards are coordinate-range-partitioned
    * (each file internally sorted, files covering disjoint ranges —
    * what Scale.writeRangeSorted and scatter-gather pipelines emit), so
    * shard i's rows are bounded by shard i+1's first key once shards
    * are ordered by their own first keys. The same conservative
    * same-chromosome rule as split pruning applies; any shard whose
    * first key can't be read (empty file, malformed head) disables
    * cohort pruning entirely rather than risk a wrong bound. This is
    * what lets a region query over a 3000-shard BGZF cohort open one
    * shard instead of 3000 — gzip streams can't seek, so per-split
    * sampling inside a shard is impossible and whole-shard skipping is
    * the only lever.
    */
  private def pruneShards(ps: Seq[String]): Seq[String] = {
    if (!sorted || region.isTrivial || ps.length <= 1) return ps
    val keys = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(
        Future.sequence(ps.map(p => Future(firstShardKey(p)))), Duration.Inf)
    }
    if (keys.exists(_.isEmpty)) return ps
    // lexicographic (chrom, pos) order: same-chrom shards sort in true
    // coordinate order (all pruning pairs are same-chrom); cross-chrom
    // ordering may disagree with header contig order, but those pairs
    // never prune — conservative either way
    val ordered = ps.zip(keys.map(_.get)).sortBy { case (_, (c, pos)) => (c, pos) }
    ordered.zipWithIndex.filterNot { case ((_, k), i) =>
      VcfScan.prunable(region, Some(k),
        if (i + 1 < ordered.length) Some(ordered(i + 1)._2) else None)
    }.map { case ((p, _), _) => p }
  }

  /** Plain-text files split into byte ranges (each reader skips the
    * partial first line and reads through the line straddling its
    * end — the classic text-split contract), so ONE huge uncompressed
    * VCF still fans out across executors. BGZF shards (what bgzip and
    * every scatter-gather pipeline emit) split the same way in
    * COMPRESSED offset space: boundaries snap to real block starts at
    * planning time (see bgzfSplits), so a single 100 GB .vcf.gz shard
    * fans out too instead of serializing on one task. Only plain
    * single-member gzip — rare in practice — stays one partition per
    * shard (no block structure to resync on).
    *
    * Split pruning: with `sorted=true` (coordinate-sorted input, the
    * same precondition the reference inherits from vt-decompose) and a
    * pushed chrom/pos region, each split's first (chrom, pos) key is
    * sampled driver-side — one bounded read per split boundary, the
    * min/max index parquet row-groups get for free — and splits whose
    * [firstKey, nextFirstKey] range cannot intersect the region are
    * dropped before any executor touches them. Multi-shard cohorts
    * additionally prune WHOLE shards first (see pruneShards — the only
    * possible pruning for compressed shards). At 100 TB this is the
    * difference between scanning one shard and three thousand.
    */
  /** Block-aligned byte ranges for one BGZF shard: tentative `splitSize`
    * boundaries are snapped forward to the next real block start
    * (driver-side bounded scans — ≤64 KiB window each, the same cost
    * class as firstKeyAt boundary sampling). Any unresolvable boundary
    * degrades to one-shard-one-task rather than risking a bad split.
    */
  private def bgzfSplits(p: String, fs: FileSystem, hp: Path,
      len: Long, splitSize: Long): Seq[VcfInputPartition] = {
    val in = fs.open(hp)
    try {
      if (!Bgzf.isBgzf(in, len))
        return Seq(VcfInputPartition(p, 0L, Long.MaxValue)) // plain gzip: unsplittable
      if (len <= splitSize)
        return Seq(VcfInputPartition(p, 0L, Long.MaxValue, bgzf = true))
      val n = ((len + splitSize - 1) / splitSize).toInt
      val bounds = (1 until n).map(i => Bgzf.nextBlockStart(in, i * splitSize, len))
      if (bounds.contains(-1L))
        return Seq(VcfInputPartition(p, 0L, Long.MaxValue, bgzf = true))
      val starts = (0L +: bounds).distinct.filter(_ < len).sorted
      starts.zipWithIndex.map { case (s, i) =>
        VcfInputPartition(p, s,
          if (i + 1 < starts.length) starts(i + 1) else Long.MaxValue,
          bgzf = true)
      }
    } finally in.close()
  }

  /** Tabix-indexed split planning: when the shard has a sibling .tbi
    * and the pushed region names its chromosomes, the index alone
    * yields the BGZF block ranges that can contain matching records —
    * NO head-reads (neither firstKey boundary sampling nor shard-head
    * keys), and chunk virtual offsets start readers at exact record
    * boundaries. Ranges at block granularity merge when overlapping
    * or adjacent (see Tabix.mergeByBlock's double-read rationale);
    * ranges longer than splitSize subdivide at real block starts so a
    * whole-chromosome region over one huge shard still fans out.
    * Returns None — fall back to sampling-based planning — when the
    * index is absent or unparseable, or the region has no chrom list
    * to look up.
    */
  /** ##contig header order — the .csi name fallback (bcftools-style
    * indexes carry no names; htslib resolves refs by header order).
    */
  private def headerContigs: Seq[String] = {
    val re = """##contig=<[^>]*\bID=([^,>]+)""".r
    header.flatMap(l => re.findFirstMatchIn(l).map(_.group(1)))
  }

  private def tabixSplits(p: String, fs: FileSystem, hp: Path,
      len: Long, splitSize: Long): Option[Seq[VcfInputPartition]] = {
    if (region.isTrivial) return None
    val chroms = region.chromIn.getOrElse(return None)
    val tbi = new Path(p + ".tbi")
    val csi = new Path(p + ".csi")
    try {
      val idx =
        if (fs.exists(tbi)) {
          val in = fs.open(tbi); try Tabix.read(in) finally in.close()
        } else if (fs.exists(csi)) {
          val in = fs.open(csi)
          try Tabix.readCsi(in, headerContigs) finally in.close()
        } else return None
      val in = fs.open(hp)
      try {
        if (!Bgzf.isBgzf(in, len)) return None
        val ranges = Tabix.mergeByBlock(chroms.toSeq.sorted.flatMap(c =>
          Tabix.chunkRanges(idx, c, region.posMin, region.posMax)))
        Some(ranges.flatMap { case (vs, ve) =>
          val startBlock = vs >>> 16
          val uoff = (vs & 0xffff).toInt
          val endOff = (ve >>> 16) + 1 // end block's lines stay owned here
          val one = Seq(VcfInputPartition(p, startBlock, endOff,
            bgzf = true, uoff = uoff, indexed = true))
          if (endOff - startBlock <= splitSize) one
          else {
            val n = (endOff - startBlock + splitSize - 1) / splitSize
            val raw = (1L until n).map(i =>
              Bgzf.nextBlockStart(in, startBlock + i * splitSize, len))
            if (raw.contains(-1L)) one
            else {
              val bounds = raw.filter(b => b > startBlock && b < endOff)
                .distinct.sorted
              val starts = startBlock +: bounds
              starts.zipWithIndex.map { case (s0, i) =>
                VcfInputPartition(p, s0,
                  if (i + 1 < starts.length) starts(i + 1) else endOff,
                  bgzf = true, uoff = if (i == 0) uoff else -1,
                  indexed = true)
              }
            }
          }
        })
      } finally in.close()
    } catch {
      // malformed/truncated index: plan WITHOUT it (sampling path) —
      // a bad .tbi must never change results
      case scala.util.control.NonFatal(_) => None
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = pruneShards(paths).map { p =>
      val hp = new Path(p)
      val fs = FileSystem.get(hp.toUri, hadoopConf)
      (p, fs, hp, fs.getFileStatus(hp).getLen)
    }
    // split size: the explicit option as given, else Spark's file-source
    // rule over the files this scan reads, each file cut evenly
    val maxSplit = splitSize.getOrElse(rule.maxSplitBytes(files.map(_._4)))
    val all = files.flatMap { case (p, fs, hp, len) =>
      val size = if (splitSize.isDefined) maxSplit else SplitRule.evenSize(len, maxSplit)
      if (p.endsWith(".gz") || p.endsWith(".bgz"))
        tabixSplits(p, fs, hp, len, size).getOrElse(bgzfSplits(p, fs, hp, len, size))
      else {
        val n = math.max(1L, (len + size - 1) / size)
        (0L until n).map(i =>
          VcfInputPartition(p, i * size,
            if (i == n - 1) Long.MaxValue else (i + 1) * size))
      }
    }
    val kept =
      if (!sorted || region.isTrivial) all
      else all.groupBy(_.path).toSeq.flatMap { case (p, splits) =>
        // splittable BGZF shards prune like text splits (keys sampled
        // by decompressing from the boundary block); only an UNSPLIT
        // compressed shard has nothing to prune below shard level.
        // Index-planned splits are ALREADY block-range-pruned by the
        // .tbi — sampling their keys would re-pay the head-reads the
        // index exists to avoid
        if (splits.length <= 1 || splits.head.indexed) splits
        else {
          val hp = new Path(p)
          val fs = FileSystem.get(hp.toUri, hadoopConf)
          val ordered = splits.sortBy(_.start)
          val bgzf = ordered.head.bgzf
          val len = if (bgzf) fs.getFileStatus(hp).getLen else 0L
          // boundary sampling fans out on a thread pool: at 100 TB the
          // split count is in the hundreds of thousands, and one
          // sequential open/seek/read per boundary would stall query
          // planning for minutes on object storage
          val keys = {
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            import scala.concurrent.duration.Duration
            Await.result(
              Future.sequence(ordered.map(sp => Future(
                if (bgzf) firstKeyAtBgzf(fs, hp, sp.start, len)
                else firstKeyAt(fs, hp, sp.start)))),
              Duration.Inf)
          }
          ordered.zipWithIndex.filterNot { case (_, i) =>
            VcfScan.prunable(region, keys(i),
              if (i + 1 < keys.length) keys(i + 1) else None)
          }.map(_._1)
        }
      }
    kept.map(x => x: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VcfReaderFactory(header, required.fieldNames, permissive, region,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      rows, passOnly)
}

private[sources] object VcfScan {
  /** Fast (chrom, pos) of a body line — substring up to the 2nd tab,
    * no full parse. None when pos is malformed (never prune on it).
    */
  def chromPosOf(line: String): Option[(String, Long)] = {
    val t1 = line.indexOf('\t')
    if (t1 < 0) return None
    val t2 = line.indexOf('\t', t1 + 1)
    val posEnd = if (t2 < 0) line.length else t2
    try Some((line.substring(0, t1), line.substring(t1 + 1, posEnd).toLong))
    catch { case _: NumberFormatException => None }
  }

  /** Conservative split-range test: prune ONLY when the split's first
    * key and its successor's first key share a chromosome (so, in a
    * coordinate-sorted file, every row between them is on that
    * chromosome with pos inside [key.pos, nextKey.pos]) and that range
    * provably misses the region. Any unknown → keep the split.
    */
  def prunable(region: RegionFilter,
      key: Option[(String, Long)], nextKey: Option[(String, Long)]): Boolean =
    (key, nextKey) match {
      case (Some((c1, p1)), Some((c2, p2))) if c1 == c2 =>
        region.chromIn.exists(!_.contains(c1)) ||
          p1 > region.posMax || p2 < region.posMin
      case _ => false
    }
}

/** `uoff >= 0` marks a tabix-derived split: `start` is the BGZF block
  * of a chunk's virtual start offset and `uoff` its in-block byte —
  * an EXACT record boundary (htslib wrote it), so the reader seeks to
  * it and does NOT discard a first line. `indexed` marks every split
  * of an index-planned shard so planning skips first-key boundary
  * sampling for them.
  */
private[sources] case class VcfInputPartition(path: String, start: Long,
    end: Long, bgzf: Boolean = false, uoff: Int = -1,
    indexed: Boolean = false) extends InputPartition

/** Line reader that reports the EXACT bytes each line consumed,
  * terminator included — LF, CRLF, and lone CR all count correctly, so
  * split-offset tracking never drifts on CRLF files (a drift of 1/line
  * makes a split read past its end while the next split skips only one
  * line: duplicated records at every boundary).
  */
private[sources] class CountingLineReader(in: java.io.InputStream) {
  private val buf = new Array[Byte](1 << 16)
  private var off = 0 // next unread byte of buf
  private var len = 0 // valid bytes in buf
  /** Total bytes consumed from the stream so far (lines + terminators). */
  var bytesConsumed: Long = 0L

  private def fill(): Boolean = {
    off = 0
    len = in.read(buf, 0, buf.length)
    while (len == 0) len = in.read(buf, 0, buf.length)
    if (len < 0) { len = 0; false } else true
  }

  def readLine(): String = {
    if (off >= len && !fill()) return null
    // bytes of a line that straddles a buffer refill
    var head: java.io.ByteArrayOutputStream = null
    while (true) {
      var i = off
      while (i < len && buf(i) != '\n' && buf(i) != '\r') i += 1
      if (i < len) {
        val line =
          if (head == null) new String(buf, off, i - off, UTF_8)
          else { head.write(buf, off, i - off); new String(head.toByteArray, UTF_8) }
        bytesConsumed += i - off + 1
        off = i + 1
        // CRLF counts both bytes; a lone CR leaves the next byte unread
        if (buf(i) == '\r' && (off < len || fill()) && buf(off) == '\n') {
          off += 1; bytesConsumed += 1
        }
        return line
      }
      if (head == null) head = new java.io.ByteArrayOutputStream(2 * (len - off) + 16)
      head.write(buf, off, len - off)
      bytesConsumed += len - off
      off = len
      if (!fill()) return new String(head.toByteArray, UTF_8) // last line, no terminator
    }
    null // unreachable
  }

  def close(): Unit = in.close()
}

private[sources] object VcfIo {
  /** Transparent decompression for gzip/bgzip shards (`.vcf.gz`,
    * `.vcf.bgz`): BGZF is concatenated-member gzip, which Java's
    * GZIPInputStream consumes natively. Used for header reads and for
    * unsplittable plain-gzip shards; splittable BGZF splits read
    * through BgzfLineReader.
    */
  def maybeGunzip(path: String, in: java.io.InputStream): java.io.InputStream =
    if (path.endsWith(".gz") || path.endsWith(".bgz"))
      new java.util.zip.GZIPInputStream(in, 1 << 16)
    else in
}

private[sources] class VcfReaderFactory(headerLines: Vector[String],
    requiredNames: Array[String], permissive: Boolean,
    region: RegionFilter, conf: Broadcast[SerializableConfiguration],
    rows: VcfReader.LineRows, passOnly: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VcfInputPartition]
    new VcfPartitionReader(p, headerLines, requiredNames,
      permissive, region, conf.value.value, rows, passOnly)
  }
}

private[sources] class VcfPartitionReader(part: VcfInputPartition,
    headerLines: Vector[String], requiredNames: Array[String], permissive: Boolean,
    region: RegionFilter, conf: Configuration,
    rows: VcfReader.LineRows, passOnly: Boolean)
    extends PartitionReader[InternalRow] {

  private val path = part.path

  // pruning reaches the PARSER, not just the row conversion: unneeded
  // INFO coercions and per-sample arrays are never computed
  private val parse = new VcfReader.LineParser(
    VcfParser.parseHeader(headerLines), rows, requiredNames.toSeq, passOnly)

  // Left = plain-text/whole-gzip counting reader, Right = BGZF
  // block reader (splittable compressed shards; see BgzfLineReader)
  private val stream: Either[CountingLineReader, BgzfLineReader] = {
    val hp = new Path(path)
    val fs = FileSystem.get(hp.toUri, conf)
    val raw = fs.open(hp)
    if (part.bgzf)
      Right(new BgzfLineReader(raw, part.start, fs.getFileStatus(hp).getLen))
    else {
      if (part.start > 0) raw.seek(part.start)
      Left(new CountingLineReader(VcfIo.maybeGunzip(path, raw)))
    }
  }

  // ownership offset of the NEXT line to be read — for text splits the
  // exact byte offset (CountingLineReader reports terminator bytes);
  // for BGZF splits the compressed block-space position (split ends
  // are block-aligned, so the same `pos > end` contract applies)
  private def pos: Long = stream match {
    case Left(r) => part.start + r.bytesConsumed
    case Right(r) => r.nextPos
  }
  private def readRawLine(): String = stream match {
    case Left(r) => r.readLine()
    case Right(r) => r.readLine()
  }
  // a tabix-derived split (uoff >= 0) starts at an exact record
  // boundary — no partial first line exists to discard
  private var primed = part.start == 0 || part.uoff >= 0
  locally {
    if (part.uoff > 0) stream match {
      case Right(r) => r.seekInFirstBlock(part.uoff)
      case Left(_) =>
    }
  }
  private var pending: Array[InternalRow] = Array.empty
  private var at = 0
  private var current: InternalRow = _

  /** Reads one line, tracking its starting offset; a reader seeked to
    * start>0 first discards the (possibly partial) line it landed in —
    * that line belongs to the previous split.
    */
  private def nextOwnedLine(): String = {
    if (!primed) {
      readRawLine() // partial line — belongs to the previous split
      primed = true
    }
    // a line STARTING at exactly `end` still belongs to this split (the
    // next reader unconditionally discards its first line) — stop only
    // strictly past end, per the Hadoop text-split contract
    if (pos > part.end) return null
    readRawLine()
  }

  /** Pre-parse region skip: chrom/pos live in the first two tab fields,
    * so a pushed region filter rejects non-matching lines on a substring
    * compare — the full INFO/FORMAT parse (the expensive part) never
    * runs for them. Lines whose chrom/pos cannot be read fall through to
    * the parser (never silently dropped by pushdown).
    */
  private def regionAccepts(line: String): Boolean =
    region.isTrivial || VcfScan.chromPosOf(line).forall {
      case (c, p) => region.accepts(c, p)
    }

  override def next(): Boolean = {
    while (at >= pending.length) {
      val line = nextOwnedLine()
      if (line == null) return false
      if (VcfParser.isBodyLine(line) && regionAccepts(line)) {
        pending = parse(line, permissive)
        at = 0
      }
    }
    current = pending(at)
    at += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = stream match {
    case Left(r) => r.close()
    case Right(r) => r.close()
  }
}

// ---------------------------------------------------------------------------
// V2 WRITE path: df.write.format("vcf").option("header", <vcf>).save(dir)
// ---------------------------------------------------------------------------

/** `df.write.format("vcf")` — the symmetric closure of the round trip:
  * writes a directory of plain-text shards, each stamped with the full
  * header, range-partitioned on (chrom, pos) and sorted within shards,
  * through the DataSourceV2 write API, so the export composes with any
  * DataFrame. [[graft.GraftDb.exportVcf]] writes a loaded database
  * through these same classes ([[VcfLineAssembler.write]]).
  *
  * Spark-first shape: the Write implements
  * [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
  * with an ORDERED distribution on (chrom, pos) and a within-partition
  * (chrom, pos, alt) sort, so Catalyst injects the range shuffle +
  * sort and AQE prices it; `option("shards", n)` caps the partition
  * count (default 1, the single-file export; see [[VcfDataWriter]] for
  * when fewer shards come out). Line assembly happens per
  * row in the DataWriter by [[VcfLineAssembler]]'s header-driven rules
  * (INFO in header order: Flags by presence, arrays comma-joined with
  * `.` for missing elements, scalars cast; GT re-derived from gt_types
  * in header sample order), so write -> read-back is value-identical —
  * the derived stat/genotype columns (call_rate, aaf, num_*, gts, …)
  * are recomputed by the reader rather than serialized.
  *
  * Modes: `append` adds shards beside existing ones (every shard
  * carries the header, the layout multi-shard reads expect);
  * `overwrite` truncates the directory's data files first
  * (SupportsTruncate). ErrorIfExists/Ignore are unsupported for
  * non-catalog V2 tables by Spark itself.
  */
private[sources] class VcfWriteBuilder(outPath: String,
    header: Vector[String], tableSchema: StructType, shards: Int)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new VcfWrite(outPath, header, tableSchema, shards, truncateFirst)
}

private[sources] class VcfWrite(outPath: String, header: Vector[String],
    tableSchema: StructType, shards: Int, truncateFirst: Boolean)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}

  private def orders(cols: String*) =
    cols.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
      : org.apache.spark.sql.connector.expressions.SortOrder).toArray

  // shards split on (chrom, pos) only, so a position never spans two
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.ordered(
      orders("chrom", "pos"))
  override def requiredNumPartitions(): Int = math.max(1, shards)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orders("chrom", "pos", "alt")

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new VcfBatchWrite(outPath, header, tableSchema, truncateFirst,
      new SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))
}

private[sources] case class VcfCommitMessage(tmpFile: String, partitionId: Int)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Two-phase commit: tasks write `part-<pid>-<taskId>` into a hidden
  * `_vcf_tmp_<nonce>` subdirectory (invisible to the reader's
  * hidden-file filter), the driver renames committed files to their
  * final `part-NNNNN` names — after truncating pre-existing data files
  * when overwriting — and drops the temp dir. A failed/speculative
  * task attempt leaves only an orphan temp file that abort/commit
  * cleanup removes; the commit coordinator guarantees one committed
  * attempt per partition.
  */
private[sources] class VcfBatchWrite(outPath: String, header: Vector[String],
    tableSchema: StructType, truncateFirst: Boolean,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  // per-job nonce: the temp dir AND the final shard names carry it, so
  // an APPEND never renames onto an earlier job's part files (same
  // partition ids) — the reader accepts any non-hidden shard name
  private val nonce = java.util.UUID.randomUUID().toString.take(8)
  private val tmpDir = s"$outPath/_vcf_tmp_$nonce"

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new VcfWriterFactory(tmpDir, header, tableSchema, conf)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val out = new Path(outPath)
    val fs = out.getFileSystem(conf.value)
    if (truncateFirst && fs.exists(out)) {
      fs.listStatus(out).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
          fs.delete(st.getPath, false)
      }
    }
    messages.collect { case m: VcfCommitMessage => m }
      .sortBy(_.partitionId)
      .foreach { m =>
        val dst = new Path(out, f"part-${m.partitionId}%05d-$nonce")
        require(fs.rename(new Path(m.tmpFile), dst),
          s"vcf write: rename ${m.tmpFile} -> $dst failed")
      }
    fs.delete(new Path(tmpDir), true)
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val fs = new Path(outPath).getFileSystem(conf.value)
    fs.delete(new Path(tmpDir), true)
  }
}

private[sources] class VcfWriterFactory(tmpDir: String,
    header: Vector[String], tableSchema: StructType,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new VcfDataWriter(
      s"$tmpDir/part-$partitionId-$taskId", partitionId,
      new VcfLineAssembler(header, tableSchema),
      header.mkString("\n"), conf)
}

/** Appends the header then one assembled VCF line per row, one shard per
  * range partition. `option("shards", n)` asks for n partitions, but
  * Spark's RangePartitioner makes fewer when the data has fewer distinct
  * (chrom, pos) keys than that: a one-record frame written with
  * `shards = 2` makes one shard.
  */
private[sources] class VcfDataWriter(file: String, partitionId: Int,
    assembler: VcfLineAssembler, headerText: String,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val path = new Path(file)
  private val fs = path.getFileSystem(conf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(path, true), "UTF-8"),
    1 << 16)
  out.write(headerText); out.write('\n')

  override def write(row: InternalRow): Unit = {
    out.write(assembler.assemble(row)); out.write('\n')
  }
  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    VcfCommitMessage(file, partitionId)
  }
  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(path, false)
  }
  override def close(): Unit =
    try out.close() catch { case _: java.io.IOException => () }
}

/** InternalRow -> VCF body line, graft's one set of line rules: site
  * fields with `.` for nulls, INFO fields in ##INFO header order (Flag =
  * presence, arrays comma-joined with `.` for null elements, scalars
  * stringified) and GT re-derived from gt_types. Built once per task
  * from the serialized header + schema; all field indices are resolved
  * up front so per-row work is a flat loop.
  */
private[sources] class VcfLineAssembler(header: Vector[String],
    schema: StructType) extends Serializable {
  import org.apache.spark.sql.types._

  @transient private lazy val h = VcfParser.parseHeader(header)
  @transient private lazy val chromI = schema.fieldIndex("chrom")
  @transient private lazy val posI = schema.fieldIndex("pos")
  @transient private lazy val vidI = schema.fieldIndex("vid")
  @transient private lazy val refI = schema.fieldIndex("ref")
  @transient private lazy val altI = schema.fieldIndex("alt")
  @transient private lazy val qualI = schema.fieldIndex("qual")
  @transient private lazy val filterI = schema.fieldIndex("filter")
  @transient private lazy val infoCols: Seq[(String, String, Int, DataType)] =
    VcfReader.infoSpecs(h)
      .map(s => (s, VcfParser.sanitize(s.id)))
      .filter { case (_, c) => schema.fieldNames.contains(c) }
      .map { case (s, c) =>
        (s.id, s.number, schema.fieldIndex(c), schema(c).dataType) }
  @transient private lazy val gtI: Int =
    if (h.samples.nonEmpty && schema.fieldNames.contains("gt_types"))
      schema.fieldIndex("gt_types")
    else -1

  private def scalarStr(row: InternalRow, i: Int, dt: DataType): String =
    dt match {
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case DoubleType => row.getDouble(i).toString
      case BooleanType => row.getBoolean(i).toString
      case _ => row.getUTF8String(i).toString
    }

  private def elemStr(a: org.apache.spark.sql.catalyst.util.ArrayData,
      i: Int, et: DataType): String =
    if (a.isNullAt(i)) "."
    else et match {
      case IntegerType => a.getInt(i).toString
      case LongType => a.getLong(i).toString
      case DoubleType => a.getDouble(i).toString
      case _ => a.getUTF8String(i).toString
    }

  def assemble(row: InternalRow): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append(row.getUTF8String(chromI)).append('\t')
      .append(row.getLong(posI)).append('\t')
      .append(if (row.isNullAt(vidI)) "." else row.getUTF8String(vidI).toString)
      .append('\t')
      .append(row.getUTF8String(refI)).append('\t')
      .append(row.getUTF8String(altI)).append('\t')
      .append(if (row.isNullAt(qualI)) "."
        else java.lang.Double.toString(row.getDouble(qualI)))
      .append('\t')
      .append(if (row.isNullAt(filterI)) "." else row.getUTF8String(filterI).toString)
      .append('\t')
    var wrote = false
    infoCols.foreach { case (id, number, i, dt) =>
      val part: String = (number, dt) match {
        case ("0", _) =>
          if (!row.isNullAt(i) && row.getBoolean(i)) id else null
        case (_, ArrayType(et, _)) =>
          if (row.isNullAt(i)) null
          else {
            val a = row.getArray(i)
            val b = new java.lang.StringBuilder(id).append('=')
            var k = 0
            while (k < a.numElements()) {
              if (k > 0) b.append(',')
              b.append(elemStr(a, k, et))
              k += 1
            }
            b.toString
          }
        case _ =>
          if (row.isNullAt(i)) null
          else id + "=" + scalarStr(row, i, dt)
      }
      if (part != null) {
        if (wrote) sb.append(';')
        sb.append(part); wrote = true
      }
    }
    if (!wrote) sb.append('.')
    if (gtI >= 0) {
      sb.append('\t').append("GT")
      val gts = row.getArray(gtI)
      var k = 0
      while (k < gts.numElements()) {
        sb.append('\t').append(gts.getInt(k) match {
          case 0 => "0/0"
          case 1 => "0/1"
          case 3 => "1/1"
          case _ => "./."
        })
        k += 1
      }
    }
    sb.toString
  }
}

/** [[VcfLineAssembler]] over frames graft builds itself: a loaded
  * database's variants, exported or printed as VCF lines.
  */
private[graft] object VcfLineAssembler {
  import org.apache.spark.sql.{DataFrame, GraftFrames, Row}
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.catalyst.encoders.RowEncoder
  import org.apache.spark.sql.types.{StringType, StructField}

  /** The columns of `df` a line is built from: the site, the INFO
    * fields `header` declares and, when the header names samples,
    * gt_types. Only these reach the shuffle or the assembler.
    */
  private def lineColumns(df: DataFrame, header: Vector[String]): DataFrame = {
    val h = VcfParser.parseHeader(header)
    val rest = VcfReader.infoColumns(h) ++
      (if (h.samples.nonEmpty) Seq("gt_types") else Nil)
    df.select((Seq("chrom", "pos", "vid", "ref", "alt", "qual", "filter") ++
      rest.filter(df.columns.contains)).map(c => df.col(s"`$c`")): _*)
  }

  /** `df` written under `header` as `df.write.format("vcf")
    * .option("shards", shards).mode("overwrite").save(outDir)` writes it.
    */
  def write(df: DataFrame, header: Vector[String], outDir: String, shards: Int): Unit = {
    val rows = lineColumns(df, header)
    GraftFrames.overwrite(rows, new VcfTable(Nil, header, rows.schema, Some(outDir)),
      Map("shards" -> shards.toString))
  }

  /** `df`'s rows as VCF body lines under `header`: a `line` column
    * beside each row's chrom, pos and alt, the keys to sort it by.
    */
  def lines(df: DataFrame, header: Vector[String]): DataFrame = {
    val rows = lineColumns(df, header)
    val schema = rows.schema
    val assembler = new VcfLineAssembler(header, schema)
    val keys = Seq("chrom", "pos", "alt").map(schema.fieldIndex)
    val out = StructType(keys.map(schema(_)) :+ StructField("line", StringType))
    rows.mapPartitions { it =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      it.map(r => Row.fromSeq(keys.map(r.get) :+
        assembler.assemble(toCatalyst(r).asInstanceOf[InternalRow])))
    }(RowEncoder.encoderFor(out))
  }
}
