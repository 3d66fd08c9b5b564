package graft

import java.nio.file.Files

import graft.operators.Etl.VcfFixture

class VcfDataSourceSpec extends SparkSpec {

  private lazy val vcfPath: String = {
    val dir = Files.createTempDirectory("vcfsrc")
    val f = dir.resolve("fixture.vcf")
    Files.writeString(f, VcfFixture.lines.mkString("\n") + "\n")
    f.toString
  }

  test("spark.read.format(vcf): header-driven schema + decomposed rows") {
    val df = spark.read.format("vcf").load(vcfPath)
    assert(df.columns.take(7).toSeq ==
      Seq("chrom", "pos", "vid", "ref", "alt", "qual", "filter"))
    assert(df.columns.contains("af") && df.columns.contains("call_rate"))
    assert(df.count() == 5)
    val alts = df.filter("pos = 300").orderBy("alt").collect()
    assert(alts.map(_.getAs[String]("alt")).toSeq == Seq("A", "T"))
    assert(alts.map(_.getAs[Double]("af")).toSeq == Seq(0.5, 0.25))
  }

  test("column pruning reaches the reader (ReadSchema shrinks)") {
    val df = spark.read.format("vcf").load(vcfPath).select("chrom", "pos", "aaf")
    val plan = df.queryExecution.executedPlan.toString
    // DSv2 BatchScan prints its (pruned) output column list
    assert("BatchScan[^\\[]*\\[chrom#\\d+, pos#\\d+L, aaf#\\d+\\]".r
      .findFirstIn(plan).isDefined,
      s"pruned read schema not pushed:\n$plan")
    val rows = df.orderBy("chrom", "pos").collect()
    assert(rows.length == 5)
    assert(rows.head.getAs[Double]("aaf") == 0.375)
  }

  test("fromPath distributed text-scan path agrees with the v2 source") {
    val (_, viaReader, _) = graft.sources.VcfReader.fromPath(spark, vcfPath)
    val viaV2 = spark.read.format("vcf").load(vcfPath)
    val a = viaReader.select("chrom", "pos", "alt", "aaf").orderBy("chrom", "pos", "alt").collect()
    val b = viaV2.select("chrom", "pos", "alt", "aaf").orderBy("chrom", "pos", "alt").collect()
    assert(a.toSeq == b.toSeq)
  }
}

/** Minimal BGZF writer for tests — emits spec-conformant blocks (gzip
  * member + BC subfield carrying total block size) and the standard
  * 28-byte EOF marker, with a configurable plain-chunk size so a small
  * fixture still spans MANY blocks.
  */
object BgzfTestWriter {
  private val EofBlock: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  private def writeBlock(out: java.io.OutputStream, data: Array[Byte],
      off: Int, len: Int): Unit = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data, off, len); d.finish()
    val cbuf = new Array[Byte](len + 64)
    var clen = 0
    while (!d.finished()) clen += d.deflate(cbuf, clen, cbuf.length - clen)
    d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data, off, len)
    val total = 12 + 6 + clen + 8
    val bsize = total - 1
    val head = Array[Int](0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff,
      6, 0, 0x42, 0x43, 2, 0, bsize & 0xff, (bsize >> 8) & 0xff).map(_.toByte)
    out.write(head)
    out.write(cbuf, 0, clen)
    val c = crc.getValue
    out.write(Array[Byte](c.toByte, (c >> 8).toByte, (c >> 16).toByte, (c >> 24).toByte))
    out.write(Array[Byte](len.toByte, (len >> 8).toByte, (len >> 16).toByte, (len >> 24).toByte))
  }

  /** Writes the shard and returns the block table: (plain-text start
    * offset, compressed block start offset) per block — what a tabix
    * builder needs to map record byte offsets to virtual offsets.
    */
  def write(path: java.nio.file.Path, text: String,
      chunk: Int): Vector[(Long, Long)] = {
    val fileOut = Files.newOutputStream(path)
    val counting = new java.io.OutputStream {
      var count = 0L
      override def write(b: Int): Unit = { fileOut.write(b); count += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        fileOut.write(b, off, len); count += len
      }
    }
    val out = new java.io.BufferedOutputStream(counting)
    val bytes = text.getBytes("UTF-8")
    val table = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < bytes.length) {
      out.flush()
      table += ((i.toLong, counting.count))
      val n = math.min(chunk, bytes.length - i)
      writeBlock(out, bytes, i, n)
      i += n
    }
    out.write(EofBlock)
    out.close()
    table.result()
  }

  /** Virtual offset (block << 16 | in-block byte) of plain offset `o`
    * under the block table `write` returned.
    */
  def voffset(table: Vector[(Long, Long)], o: Long): Long = {
    val (plainStart, co) = table.takeWhile(_._1 <= o).last
    (co << 16) | (o - plainStart)
  }
}

/** Minimal spec-conformant .tbi writer for tests: one chunk per
  * record, UCSC binning via the production reg2bins, 16 kb linear
  * index, gzip container (GZIPInputStream reads gzip and BGZF alike).
  */
object TabixTestWriter {
  /** records: (chrom, 0-based beg, 0-based-exclusive end, virtual
    * start, virtual end) in file order.
    */
  def write(path: java.nio.file.Path, names: Seq[String],
      records: Seq[(String, Long, Long, Long, Long)]): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val b = new java.io.DataOutputStream(bos)
    def i32(v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
      b.write((v >> 16) & 0xff); b.write((v >> 24) & 0xff)
    }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >>> 32).toInt) }
    b.write('T'); b.write('B'); b.write('I'); b.write(1)
    i32(names.length)
    i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0) // VCF preset
    val nm = names.map(_ + "\u0000").mkString.getBytes("UTF-8")
    i32(nm.length); b.write(nm)
    names.foreach { name =>
      val rs = records.filter(_._1 == name)
      // one chunk per record, grouped into its reg2bin (the smallest
      // bin containing it — reg2bins of a point returns it last)
      val byBin = rs.groupBy(r =>
        graft.sources.Tabix.reg2bins(r._2, r._3).last)
      i32(byBin.size)
      byBin.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        i32(bin); i32(chunks.length)
        chunks.foreach { c => i64(c._4); i64(c._5) }
      }
      val nIntv = if (rs.isEmpty) 0
        else (rs.map(r => (r._3 - 1) >> 14).max + 1).toInt
      i32(nIntv)
      (0 until nIntv).foreach { w =>
        val overlapping = rs.filter(r => (r._2 >> 14) <= w && ((r._3 - 1) >> 14) >= w)
        i64(if (overlapping.isEmpty) 0L else overlapping.map(_._4).min)
      }
    }
    b.flush()
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(path))
    gz.write(bos.toByteArray); gz.close()
  }
}

/** Minimal spec-conformant .csi writer for tests: one chunk per
  * record, generalized (min_shift, depth) binning via the production
  * reg2bins, per-bin loffset lower bounds, gzip container. With
  * `auxNames` it emulates `tabix --csi` (tabix config + names in the
  * aux block); without, a bcftools-style bare index whose refs
  * resolve from the data file's ##contig order.
  */
object CsiTestWriter {
  def write(path: java.nio.file.Path, names: Seq[String],
      records: Seq[(String, Long, Long, Long, Long)],
      minShift: Int = 14, depth: Int = 5, auxNames: Boolean = true): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val b = new java.io.DataOutputStream(bos)
    def i32(v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
      b.write((v >> 16) & 0xff); b.write((v >> 24) & 0xff)
    }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >>> 32).toInt) }
    b.write('C'); b.write('S'); b.write('I'); b.write(1)
    i32(minShift); i32(depth)
    if (auxNames) {
      val nm = names.map(_ + "\u0000").mkString.getBytes("UTF-8")
      i32(28 + nm.length) // l_aux: 6 config ints + l_nm + names
      i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0)
      i32(nm.length); b.write(nm)
    } else i32(0)
    i32(names.length)
    names.foreach { name =>
      val rs = records.filter(_._1 == name)
      val byBin = rs.groupBy(r =>
        graft.sources.Tabix.reg2bins(r._2, r._3, minShift, depth).last)
      i32(byBin.size)
      byBin.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        i32(bin); i64(chunks.map(_._4).min) // loffset = min virtual start
        i32(chunks.length)
        chunks.foreach { c => i64(c._4); i64(c._5) }
      }
    }
    b.flush()
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(path))
    gz.write(bos.toByteArray); gz.close()
  }
}

/** Splittable BGZF shard: ONE compressed file fans out across
  * partitions with zero duplicated or lost records — the 100 TB bound
  * removed this round (a single huge shard used to serialize on one
  * task).
  */
class VcfBgzfSplitSpec extends SparkSpec {

  private def mkVcf(nRecords: Int): String = {
    val header = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "sA", "sB").mkString("\t"))
    val body = (1 to nRecords).map { i =>
      val chrom = if (i <= nRecords / 2) "1" else "2"
      Seq(chrom, (i * 10).toString, ".", "A", "G", "9.0", "PASS",
        s"DP=$i", "GT", "0/1", "0/0").mkString("\t")
    }
    (header ++ body).mkString("\n") + "\n"
  }

  test("one BGZF shard splits into many partitions; rows exact") {
    val dir = Files.createTempDirectory("bgzfsplit")
    val text = mkVcf(500)
    val gz = dir.resolve("big.vcf.gz")
    BgzfTestWriter.write(gz, text, chunk = 300) // many small blocks
    val plain = dir.resolve("big.vcf")
    Files.writeString(plain, text)

    val df = spark.read.format("vcf")
      .option("splitSize", 1024).load(gz.toString)
    assert(df.rdd.getNumPartitions > 3,
      s"expected multiple BGZF splits, got ${df.rdd.getNumPartitions}")
    // exactness: no duplicated, no lost records at any block seam
    assert(df.count() == 500)
    val a = df.select("chrom", "pos", "dp").orderBy("chrom", "pos").collect()
    val b = spark.read.format("vcf").load(plain.toString)
      .select("chrom", "pos", "dp").orderBy("chrom", "pos").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("boundary sweep: every splitSize yields the exact row multiset") {
    val dir = Files.createTempDirectory("bgzfsweep")
    val text = mkVcf(200)
    val gz = dir.resolve("sweep.vcf.gz")
    BgzfTestWriter.write(gz, text, chunk = 256)
    for (split <- Seq(512, 1000, 2048, 7777)) {
      val df = spark.read.format("vcf")
        .option("splitSize", split).load(gz.toString)
      assert(df.count() == 200, s"splitSize=$split lost/duplicated rows")
      assert(df.select("pos").distinct().count() == 200, s"splitSize=$split")
    }
  }

  test("plain single-member gzip stays one unsplit partition") {
    val dir = Files.createTempDirectory("plaingz")
    val text = mkVcf(50)
    val gz = dir.resolve("plain.vcf.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write(text.getBytes("UTF-8")); out.close()
    val df = spark.read.format("vcf")
      .option("splitSize", 1024).load(gz.toString)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 50)
  }
}

/** Sharded-cohort read: a directory of VCF shards (same header) reads
  * as ONE table with one input partition per shard — the bgzip-shard
  * parallelism layout of a 100 TB cohort.
  */
class VcfShardedReadSpec extends SparkSpec {
  import java.nio.file.Files
  import graft.operators.Etl.VcfFixture

  test("directory of shards = union of shards, one partition each") {
    val dir = Files.createTempDirectory("vcfshards")
    val header = VcfFixture.lines.takeWhile(_.startsWith("#"))
    val body = VcfFixture.lines.filterNot(_.startsWith("#"))
    Files.writeString(dir.resolve("shard-00.vcf"),
      (header ++ body.take(2)).mkString("\n") + "\n")
    Files.writeString(dir.resolve("shard-01.vcf"),
      (header ++ body.drop(2)).mkString("\n") + "\n")
    val df = spark.read.format("vcf").load(dir.toString)
    assert(df.count() == 5) // 4 records, one multi-allelic
    assert(df.rdd.getNumPartitions == 2) // one per shard
    assert(df.select("chrom").distinct().count() == 3)
  }
}

/** Corrupt-row tolerance: strict mode fails the scan, permissive mode
  * skips bad lines — the 100 TB default where a handful of corrupt
  * rows must not kill a multi-hour job.
  */
class VcfPermissiveSpec extends SparkSpec {
  import java.nio.file.Files
  import graft.operators.Etl.VcfFixture

  private lazy val corruptPath: String = {
    val lines = VcfFixture.lines ++ Vector(
      "1\tNOT_A_NUMBER\t.\tA\tG\t.\t.\tDP=1\tGT\t0/1\t0/0\t0/0\t0/0",
      "truncated line")
    val f = Files.createTempDirectory("vcfbad").resolve("bad.vcf")
    Files.writeString(f, lines.mkString("\n") + "\n")
    f.toString
  }

  test("strict mode surfaces the corrupt line as a failure") {
    intercept[org.apache.spark.SparkException] {
      spark.read.format("vcf").load(corruptPath).count()
    }
  }

  test("permissive mode skips corrupt lines and keeps the rest") {
    val df = spark.read.format("vcf")
      .option("permissive", "true").load(corruptPath)
    assert(df.count() == 5) // the 4 good records (5 decomposed rows)
  }

  test("Dataset-path permissive flag agrees") {
    import spark.implicits._
    val lines = VcfFixture.lines :+ "garbage\trow"
    val h = graft.sources.VcfReader.headerOf(lines)
    val body = spark.createDataset(
      lines.filter(graft.sources.VcfParser.isBodyLine))
    val df = graft.sources.VcfReader.variants(h, body, permissive = true)
    assert(df.count() == 5)
  }
}

/** Compressed-shard read: .vcf.gz (and BGZF multi-member gzip) reads
  * transparently, one partition per shard.
  */
class VcfGzipSpec extends SparkSpec {
  import java.nio.file.Files
  import graft.operators.Etl.VcfFixture

  test("gzip shard reads identically to plain text") {
    val dir = Files.createTempDirectory("vcfgz")
    val gz = dir.resolve("fixture.vcf.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write((VcfFixture.lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    val df = spark.read.format("vcf").load(gz.toString)
    assert(df.count() == 5)
    assert(df.filter("pos = 300").count() == 2)
  }

  test("multi-member gzip (BGZF-style) concatenation reads fully") {
    val dir = Files.createTempDirectory("vcfbgz")
    val f = dir.resolve("fixture.vcf.bgz")
    val bytes = new java.io.ByteArrayOutputStream()
    val header = VcfFixture.lines.takeWhile(_.startsWith("#"))
    val body = VcfFixture.lines.filterNot(_.startsWith("#"))
    // two independent gzip members, as bgzip produces
    for (chunk <- Seq(header.mkString("\n") + "\n", body.mkString("\n") + "\n")) {
      val gz = new java.util.zip.GZIPOutputStream(bytes)
      gz.write(chunk.getBytes("UTF-8")); gz.close()
    }
    java.nio.file.Files.write(f, bytes.toByteArray)
    val df = spark.read.format("vcf").load(f.toString)
    assert(df.count() == 5)
  }
}

/** chrom/pos filter pushdown: pushed predicates prune byte-range splits
  * on coordinate-sorted input (driver samples each split's first key —
  * the min/max index parquet row-groups get for free) and skip rows
  * before the expensive INFO/FORMAT parse on every input.
  */
class VcfPushdownSpec extends SparkSpec {
  import java.nio.file.Files

  // sorted two-chromosome file: chrom 1 pos 3..12000, chrom 2 pos 3..12000
  private lazy val sortedPath: String = {
    val sb = new StringBuilder
    sb ++= "##fileformat=VCFv4.2\n"
    sb ++= "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n"
    sb ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\n"
    for (c <- Seq("1", "2"); i <- 1 to 4000)
      sb ++= s"$c\t${i * 3}\t.\tA\tG\t.\tPASS\tDP=$i\tGT\t0/1\n"
    val f = Files.createTempDirectory("vcfpush").resolve("sorted.vcf")
    Files.writeString(f, sb.toString)
    f.toString
  }

  private def read(sorted: Boolean) = spark.read.format("vcf")
    .option("splitSize", "8192").option("sorted", sorted.toString)
    .load(sortedPath)

  test("pos-range query prunes splits on sorted input") {
    val df = read(sorted = true)
    val allParts = df.rdd.getNumPartitions
    assert(allParts > 10, s"expected many splits, got $allParts")
    val q = df.filter("chrom = '1' AND pos >= 600 AND pos <= 900")
    val qParts = q.rdd.getNumPartitions
    assert(qParts < allParts / 2,
      s"pruning ineffective: $qParts of $allParts partitions survive")
    assert(q.count() == 101) // pos = 3i in [600, 900] → i in [200, 300]
  }

  test("chrom-equality query prunes the other chromosome's splits") {
    val df = read(sorted = true)
    val allParts = df.rdd.getNumPartitions
    val q = df.filter("chrom = '2'")
    assert(q.rdd.getNumPartitions < allParts)
    assert(q.count() == 4000)
  }

  test("pos-range query prunes block-aligned splits of a sorted BGZF shard") {
    // same sorted two-chromosome content, one compressed shard: pruning
    // must now work INSIDE the shard (block-aligned splits sample their
    // first key by decompressing from the boundary block)
    val gz = Files.createTempDirectory("vcfpushgz").resolve("sorted.vcf.gz")
    BgzfTestWriter.write(gz, Files.readString(
      java.nio.file.Path.of(sortedPath)), chunk = 1024)
    val df = spark.read.format("vcf")
      .option("splitSize", "2048").option("sorted", "true")
      .load(gz.toString)
    val allParts = df.rdd.getNumPartitions
    assert(allParts > 10, s"expected many BGZF splits, got $allParts")
    val q = df.filter("chrom = '1' AND pos >= 600 AND pos <= 900")
    assert(q.rdd.getNumPartitions < allParts / 2,
      s"BGZF split pruning ineffective: ${q.rdd.getNumPartitions} of $allParts")
    assert(q.count() == 101)
    // chrom-only predicate drops the other chromosome's block ranges
    val q2 = df.filter("chrom = '2'")
    assert(q2.rdd.getNumPartitions < allParts)
    assert(q2.count() == 4000)
  }

  test("pushed filters are reported on the scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = read(sorted = true).filter("chrom = '1' AND pos <= 900")
    val scan = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head
    assert(scan.description().contains("RegionFilter"),
      s"scan does not report pushdown: ${scan.description()}")
  }

  test("unsorted mode: no pruning, but results still correct via row skip") {
    val q = read(sorted = false).filter("chrom = '1' AND pos >= 600 AND pos <= 900")
    assert(q.count() == 101)
    // pruning disabled: every split survives
    assert(q.rdd.getNumPartitions == read(sorted = false).rdd.getNumPartitions)
  }

  // range-partitioned 4-shard gzip cohort: chrom 1, pos 3..3000,
  // 3003..6000, 6003..9000, 9003..12000 (gzip = unsplittable, one
  // partition per shard; pruning must drop whole shards or nothing)
  private lazy val shardedDir: String = {
    val dir = Files.createTempDirectory("vcfshards")
    val header = "##fileformat=VCFv4.2\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\n"
    (0 until 4).foreach { sh =>
      val sb = new StringBuilder(header)
      for (i <- (sh * 1000 + 1) to ((sh + 1) * 1000))
        sb ++= s"1\t${i * 3}\t.\tA\tG\t.\tPASS\tDP=$i\tGT\t0/1\n"
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(dir.resolve(f"shard-$sh%02d.vcf.gz")))
      try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    }
    dir.toString
  }

  test("region query over a sorted compressed cohort opens fewer shards") {
    val df = spark.read.format("vcf").option("sorted", "true").load(shardedDir)
    assert(df.rdd.getNumPartitions == 4, "one partition per gzip shard")
    // pos in [4000, 5000] lives entirely in shard 1 (3003..6000): shard
    // 0 is ruled out by its successor's first key, shard 2 by its own;
    // the last shard has no successor bound and is conservatively kept
    val q = df.filter("chrom = '1' AND pos >= 4000 AND pos <= 5000")
    assert(q.rdd.getNumPartitions == 2,
      s"expected 2 surviving shards, got ${q.rdd.getNumPartitions}")
    assert(q.count() == 333) // pos = 3i in [4000, 5000] → i in [1334, 1666]
    // a region past every shard's range keeps only the unbounded last shard
    val far = df.filter("chrom = '1' AND pos > 900000")
    assert(far.rdd.getNumPartitions == 1)
    assert(far.count() == 0)
    // unsorted mode never shard-prunes
    val un = spark.read.format("vcf").load(shardedDir)
      .filter("chrom = '1' AND pos >= 4000 AND pos <= 5000")
    assert(un.rdd.getNumPartitions == 4)
    assert(un.count() == 333)
  }
}

/** CRLF line termination: byte-offset tracking counts the actual
  * terminator bytes, so split ownership stays exact (a 1-byte/line
  * drift duplicates records at split boundaries).
  */
class VcfCrlfSpec extends SparkSpec {
  import java.nio.file.Files

  test("CRLF file split-reads every record exactly once") {
    val lines = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1") ++
      (1 to 3000).map(i => s"${1 + i % 3}\t${i * 2}\t.\tA\tG\t.\tPASS\tDP=$i\tGT\t0/1")
    val f = Files.createTempDirectory("vcfcrlf").resolve("crlf.vcf")
    Files.writeString(f, lines.mkString("\r\n") + "\r\n")
    val split = spark.read.format("vcf")
      .option("splitSize", "4096").load(f.toString)
    assert(split.rdd.getNumPartitions > 5)
    assert(split.count() == 3000) // duplicated boundary records would inflate this
    assert(split.select("pos").distinct().count() == 3000)
  }
}

/** Multi-shard header consistency: a shard declaring a different INFO
  * set must fail loudly, not silently inherit the first shard's schema.
  */
class VcfHeaderGuardSpec extends SparkSpec {
  import java.nio.file.Files
  import graft.operators.Etl.VcfFixture

  test("conflicting shard headers raise a clear error") {
    val dir = Files.createTempDirectory("vcfhdr")
    Files.writeString(dir.resolve("a.vcf"), VcfFixture.lines.mkString("\n") + "\n")
    val other = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=SOMETHING_ELSE,Number=1,Type=Float,Description=\"x\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "1\t100\t.\tA\tG\t.\t.\tSOMETHING_ELSE=1.5")
    Files.writeString(dir.resolve("b.vcf"), other.mkString("\n") + "\n")
    val err = intercept[IllegalArgumentException] {
      spark.read.format("vcf").load(dir.toString)
    }
    assert(err.getMessage.contains("header mismatch"))
    // escape hatch: first-header semantics on request
    val forced = spark.read.format("vcf")
      .option("validateHeaders", "false").load(dir.toString)
    assert(forced.columns.contains("dp"))
  }
}

/** Byte-range splitting: one big plain-text VCF fans out over multiple
  * partitions with exact once-each line ownership.
  */
class VcfSplitSpec extends SparkSpec {
  import java.nio.file.Files

  test("split read equals unsplit read on a large single file") {
    val sb = new StringBuilder
    sb ++= "##fileformat=VCFv4.2\n"
    sb ++= "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n"
    sb ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\n"
    (1 to 5000).foreach { i =>
      sb ++= s"${1 + i % 5}\t${i * 3}\t.\tA\tG\t.\tPASS\tDP=$i\tGT\t0/1\n"
    }
    val f = Files.createTempDirectory("vcfsplit").resolve("big.vcf")
    Files.writeString(f, sb.toString)

    val whole = spark.read.format("vcf").load(f.toString)
    val split = spark.read.format("vcf")
      .option("splitSize", "8192").load(f.toString)
    assert(split.rdd.getNumPartitions > 5, "expected many byte-range splits")
    assert(split.count() == 5000)
    // exact ownership: identical multiset of rows
    val a = whole.select("chrom", "pos", "dp").collect().map(_.toSeq).sortBy(_.toString)
    val b = split.select("chrom", "pos", "dp").collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }
}

/** Default split size: Spark's file-source rule, so a plain VCF larger
  * than the open cost times the core count reads as one split per core
  * at least — not as one task per 128 MB.
  */
class VcfSplitRuleSpec extends SparkSpec {
  import java.nio.file.Files

  test("a >4 MB plain VCF plans into at least defaultParallelism splits") {
    val cores = spark.sparkContext.defaultParallelism
    // past the open-cost floor, so the rule's total / cores term decides
    val target = spark.sessionState.conf.filesOpenCostInBytes * cores + (1L << 20)
    val sb = new StringBuilder
    sb ++= "##fileformat=VCFv4.2\n"
    sb ++= "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n"
    sb ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\n"
    var n = 0
    while (sb.length < target) {
      n += 1
      sb ++= s"1\t$n\t.\tA\tG\t.\tPASS\tDP=$n\tGT:DP\t0/1:$n\t1/1:$n\n"
    }
    val f = Files.createTempDirectory("vcfsplitrule").resolve("big.vcf")
    Files.writeString(f, sb.toString)
    assert(Files.size(f) > 4L * 1024 * 1024)

    val df = spark.read.format("vcf").load(f.toString)
    assert(df.rdd.getNumPartitions >= cores,
      s"${Files.size(f)} bytes planned into ${df.rdd.getNumPartitions} splits")
    assert(df.count() == n) // every record owned by exactly one split
    assert(df.agg(org.apache.spark.sql.functions.sum("dp")).head().getLong(0) ==
      n.toLong * (n + 1) / 2)
    // an explicit splitSize still overrides the rule
    assert(spark.read.format("vcf").option("splitSize", Files.size(f))
      .load(f.toString).rdd.getNumPartitions == 1)
  }

  test("split rule: open-cost floor, total spread over the cores, even cuts") {
    import graft.sources.SplitRule
    val mb = 1L << 20
    val rule = SplitRule(maxPartitionBytes = 128 * mb, openCostInBytes = 4 * mb,
      minPartitions = 4)
    assert(rule.maxSplitBytes(Seq(1 * mb)) == 4 * mb)
    assert(rule.maxSplitBytes(Seq(15 * mb)) == 19 * mb / 4)
    assert(rule.maxSplitBytes(Seq(4000 * mb)) == 128 * mb)
    // 15 MB at a 4.75 MB maximum: four equal 3.75 MB splits
    assert(SplitRule.evenSize(15 * mb, 19 * mb / 4) == 15 * mb / 4)
    assert(SplitRule.evenSize(0L, 4 * mb) == 1L)
  }
}

/** Tabix interop: a sibling .tbi drives block-range pruning for region
  * queries over an indexed BGZF shard — no first-key head-reads, exact
  * results, graceful fallback on a corrupt index.
  */
class VcfTabixSpec extends SparkSpec {
  import java.nio.file.Files
  import org.apache.spark.sql.functions.col

  /** Indexed shard fixture: 400 SNV records at 400 bp spacing (chrom 1
    * pos 400..80000, chrom 2 pos 80400..160000 — each chrom spans ~5
    * of tabix's 16 kb leaf-bin windows, so binning can actually
    * discriminate regions), many small BGZF blocks, spec-built .tbi
    * from the writer's block table.
    */
  private val fixtureHeader = Vector(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
      "FORMAT", "sA").mkString("\t"))

  private val fixtureBodies: Seq[String] = (1 to 400).map { i =>
    val chrom = if (i <= 200) "1" else "2"
    val pos = (if (i <= 200) i else i - 200) * 400
    Seq(chrom, pos.toString, ".", "A", "G", "9.0", "PASS",
      s"DP=$i", "GT", "0/1").mkString("\t")
  }

  private val fixtureText: String =
    (fixtureHeader ++ fixtureBodies).mkString("\n") + "\n"

  /** Record tuples (chrom, beg0, end0, vstart, vend) for the shared
    * fixture under a given block table.
    */
  private def fixtureRecords(
      table: Vector[(Long, Long)]): Seq[(String, Long, Long, Long, Long)] = {
    var off = fixtureHeader.map(_.length + 1).sum.toLong
    fixtureBodies.map { line =>
      val f = line.split("\t")
      val pos = f(1).toLong
      val vs = BgzfTestWriter.voffset(table, off)
      val ve = BgzfTestWriter.voffset(table, off + line.length + 1)
      off += line.length + 1
      (f(0), pos - 1, pos, vs, ve)
    }
  }

  private lazy val fixture: (String, String, java.nio.file.Path) = {
    val dir = Files.createTempDirectory("vcftabix")
    val gz = dir.resolve("indexed.vcf.gz")
    val table = BgzfTestWriter.write(gz, fixtureText, chunk = 256)
    TabixTestWriter.write(dir.resolve("indexed.vcf.gz.tbi"),
      Seq("1", "2"), fixtureRecords(table))
    val plain = dir.resolve("indexed.vcf")
    Files.writeString(plain, fixtureText)
    (gz.toString, plain.toString, dir)
  }

  private def regionRows(path: String, opts: Map[String, String],
      chrom: String, lo: Long, hi: Long) = {
    var r = spark.read.format("vcf")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load(path)
      .filter(col("chrom") === chrom && col("pos") >= lo && col("pos") <= hi)
      .select("chrom", "pos", "dp")
  }

  test("region query over an indexed shard opens only intersecting block ranges") {
    val (gz, plain, dir) = fixture
    val opts = Map("splitSize" -> "1024")
    val unindexed = regionRows(plain, opts, "1", 33000, 34000)
    // the same COMPRESSED shard without its index: every block-aligned
    // split is opened (un-sorted planner has nothing to prune)
    val noIdx = dir.resolve("noindex.vcf.gz")
    Files.copy(java.nio.file.Path.of(gz), noIdx,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val allGzSplits = spark.read.format("vcf").option("splitSize", "1024")
      .load(noIdx.toString).rdd.getNumPartitions
    assert(allGzSplits >= 6, s"fixture too small to prove pruning ($allGzSplits)")
    // the indexed shard resolves the region from the .tbi alone: only
    // the one 16 kb-window block range that intersects it is opened
    val indexed = regionRows(gz, opts, "1", 33000, 34000)
    val nParts = indexed.rdd.getNumPartitions
    assert(nParts <= 2,
      s"tabix pruning should open ~1 merged block range, got $nParts")
    assert(nParts * 3 <= allGzSplits,
      s"index opened $nParts of $allGzSplits splits — not pruning")
    assert(indexed.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      unindexed.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    assert(indexed.count() == 3) // pos 33200, 33600, 34000
  }

  test("indexed region results are exact across region shapes") {
    val (gz, plain, _) = fixture
    val opts = Map("splitSize" -> "1024")
    val shapes = Seq(("1", 400L, 80000L), ("2", 400L, 2000L),
      ("1", 79800L, 80000L), ("2", 79600L, 80000L), ("1", 1L, 399L))
    shapes.foreach { case (c, lo, hi) =>
      val a = regionRows(gz, opts, c, lo, hi).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      val b = regionRows(plain, opts, c, lo, hi).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      assert(a == b, s"region $c:$lo-$hi diverged (indexed=${a.length}, plain=${b.length})")
    }
    // chrom absent from the index: exact empty, zero partitions opened
    val none = regionRows(gz, opts, "3", 1, 5000)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("corrupt .tbi falls back to sampling-based planning, results unchanged") {
    val (gz, plain, dir) = fixture
    val bad = dir.resolve("bad.vcf.gz")
    Files.copy(java.nio.file.Path.of(gz), bad,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // truncated garbage index: unparseable, must be IGNORED not fatal
    Files.write(dir.resolve("bad.vcf.gz.tbi"), Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3))
    val opts = Map("splitSize" -> "1024")
    val a = regionRows(bad.toString, opts, "1", 500, 600).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val b = regionRows(plain, opts, "1", 500, 600).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b)
  }

  test("csi index (tabix --csi style, names in aux) prunes like tbi") {
    val (gz, plain, dir) = fixture
    // same shard bytes, .csi instead of .tbi
    val czPath = dir.resolve("csistyle.vcf.gz")
    Files.copy(java.nio.file.Path.of(gz), czPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // rebuild the records from the shared fixture (same layout)
    val table = BgzfTestWriter.write(czPath, fixtureText, chunk = 256)
    CsiTestWriter.write(dir.resolve("csistyle.vcf.gz.csi"),
      Seq("1", "2"), fixtureRecords(table))
    val opts = Map("splitSize" -> "1024")
    val indexed = regionRows(czPath.toString, opts, "1", 33000, 34000)
    assert(indexed.rdd.getNumPartitions <= 2,
      s"csi pruning should open ~1 range, got ${indexed.rdd.getNumPartitions}")
    val a = indexed.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = regionRows(plain, opts, "1", 33000, 34000).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b)
  }

  test("bcftools-style csi (no aux names) resolves refs from ##contig order") {
    val dir = Files.createTempDirectory("vcfcsi2")
    val header = Vector(
      "##fileformat=VCFv4.2",
      "##contig=<ID=1,length=100000>",
      "##contig=<ID=2,length=100000>",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "sA").mkString("\t"))
    val bodies = (1 to 100).map { i =>
      val chrom = if (i <= 50) "1" else "2"
      val pos = (if (i <= 50) i else i - 50) * 800
      Seq(chrom, pos.toString, ".", "A", "G", "9.0", "PASS",
        s"DP=$i", "GT", "0/1").mkString("\t")
    }
    val text = (header ++ bodies).mkString("\n") + "\n"
    val gz = dir.resolve("bare.vcf.gz")
    val table = BgzfTestWriter.write(gz, text, chunk = 200)
    var off = header.map(_.length + 1).sum.toLong
    val records = bodies.map { line =>
      val f = line.split("\t")
      val pos = f(1).toLong
      val vs = BgzfTestWriter.voffset(table, off)
      val ve = BgzfTestWriter.voffset(table, off + line.length + 1)
      off += line.length + 1
      (f(0), pos - 1, pos, vs, ve)
    }
    // NON-default geometry (min_shift 12, depth 4) + no names in aux:
    // both the generalized binning and the header-contig fallback
    CsiTestWriter.write(dir.resolve("bare.vcf.gz.csi"), Seq("1", "2"),
      records, minShift = 12, depth = 4, auxNames = false)
    val plain = dir.resolve("bare.vcf")
    Files.writeString(plain, text)
    val opts = Map("splitSize" -> "1024")
    for ((c, lo, hi) <- Seq(("1", 8000L, 12000L), ("2", 800L, 40000L),
        ("1", 1L, 799L))) {
      val a = regionRows(gz.toString, opts, c, lo, hi).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      val b = regionRows(plain.toString, opts, c, lo, hi).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      assert(a == b, s"region $c:$lo-$hi diverged under bare csi")
    }
  }

  test("full scan of an indexed shard ignores the index (trivial region)") {
    val (gz, plain, _) = fixture
    val a = spark.read.format("vcf").option("splitSize", "1024").load(gz)
      .select("chrom", "pos", "dp").collect().map(_.toSeq).sortBy(_.toString)
    val b = spark.read.format("vcf").load(plain)
      .select("chrom", "pos", "dp").collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 400)
  }
}

/** `df.write.format("vcf")` — the V2 write path (round-13 verdict ask
  * #6): write -> read-back value identity, exportVcf's sharded/sorted
  * layout via RequiresDistributionAndOrdering, truncate-on-overwrite,
  * append, and pushdown intact on the re-read.
  */
class VcfWriteSpec extends SparkSpec {
  import java.nio.file.Files
  import graft.operators.Etl.VcfFixture

  private lazy val vcfPath: String = {
    val dir = Files.createTempDirectory("vcfwsrc")
    val f = dir.resolve("fixture.vcf")
    Files.writeString(f, VcfFixture.lines.mkString("\n") + "\n")
    f.toString
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Seq[_] => a.toList
      case x => x
    }).sortBy(_.mkString("|")).map(_.toList).toSeq

  /** FORMAT columns beyond GT (depths/quals/PL) and the raw `gts`
    * strings are exportVcf's documented degradation — only GT is
    * re-emitted, and gt strings re-canonicalize from gt_types (the
    * multiallelic "1/2" became 0/1-coded at decompose). Everything
    * else — site fields, every INFO column, gt_types, and the
    * recomputed stats — must round-trip exactly.
    */
  private val exportDegraded = Seq("gts", "gt_depths", "gt_ref_depths",
    "gt_alt_depths", "gt_quals", "gt_phred_ll_homref", "gt_phred_ll_het",
    "gt_phred_ll_homalt")

  test("write -> read-back is value-identical outside the documented GT-only export") {
    val df = spark.read.format("vcf").load(vcfPath)
    val out = Files.createTempDirectory("vcfw").resolve("cohort").toString
    df.write.format("vcf").option("header", vcfPath)
      .mode("overwrite").save(out)
    val back = spark.read.format("vcf").load(out)
    assert(back.schema == df.schema, "round-trip schema drift")
    assert(canon(back.drop(exportDegraded: _*)) == canon(df.drop(exportDegraded: _*)),
      "round-trip value drift")
    // FIXPOINT: writing the already-exported cohort is a FULL identity
    // — the GT-only degradation happens exactly once
    val out2 = Files.createTempDirectory("vcfwf").resolve("cohort2").toString
    back.write.format("vcf").option("header", out)
      .mode("overwrite").save(out2)
    val back2 = spark.read.format("vcf").load(out2)
    assert(canon(back2) == canon(back), "second round trip not a fixpoint")
    // the writer's commit protocol left a clean directory
    val names = new java.io.File(out).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.startsWith("part-00000")))
    assert(!names.exists(_.startsWith("_vcf_tmp")), "temp dir leaked")
  }

  test("shards option range-partitions and sorts within shards") {
    val df = spark.read.format("vcf").load(vcfPath)
    val out = Files.createTempDirectory("vcfw2").resolve("sharded").toString
    df.write.format("vcf").option("header", vcfPath)
      .option("shards", "2").mode("overwrite").save(out)
    val shards = new java.io.File(out).list().filter(_.startsWith("part-")).sorted
    assert(shards.length == 2, s"expected 2 shards, got ${shards.mkString(",")}")
    // every shard: full header, body sorted by (chrom, pos, alt)
    val bodies = shards.map { s =>
      val lines = scala.io.Source.fromFile(s"$out/$s").getLines().toVector
      assert(lines.takeWhile(_.startsWith("#")) ==
        spark.read.textFile(vcfPath).collect().toVector.takeWhile(_.startsWith("#")),
        s"shard $s header drift")
      lines.filterNot(_.startsWith("#")).map { l =>
        val f = l.split("\t"); (f(0), f(1).toLong, f(4))
      }
    }
    bodies.foreach(b => assert(b == b.sorted, "shard body not sorted"))
    // range partitioning: shard 0's keys all <= shard 1's keys
    if (bodies(0).nonEmpty && bodies(1).nonEmpty) {
      val ord = implicitly[Ordering[(String, Long, String)]]
      assert(ord.lteq(bodies(0).max, bodies(1).min), "shards overlap in key range")
    }
    assert(bodies.map(_.size).sum == 5)
    val back = spark.read.format("vcf").load(out)
    assert(back.count() == 5)
  }

  test("shards caps the shard count: one record makes one shard") {
    // Spark's RangePartitioner makes no more partitions than distinct keys
    val one = spark.read.format("vcf").load(vcfPath).filter("pos = 100")
    val out = Files.createTempDirectory("vcfw1").resolve("single").toString
    one.write.format("vcf").option("header", vcfPath)
      .option("shards", "2").mode("overwrite").save(out)
    val shards = new java.io.File(out).list().filter(_.startsWith("part-"))
    assert(shards.length == 1, s"expected 1 shard, got ${shards.mkString(",")}")
    assert(spark.read.format("vcf").load(out).count() == 1)
  }

  test("append adds shards; overwrite truncates them") {
    val df = spark.read.format("vcf").load(vcfPath)
    val out = Files.createTempDirectory("vcfw3").resolve("grow").toString
    df.write.format("vcf").option("header", vcfPath).mode("append").save(out)
    df.write.format("vcf").option("header", vcfPath).mode("append").save(out)
    assert(spark.read.format("vcf").load(out).count() == 10)
    df.write.format("vcf").option("header", vcfPath).mode("overwrite").save(out)
    assert(spark.read.format("vcf").load(out).count() == 5)
  }

  test("pushdown stays intact on the re-read of a written cohort") {
    val df = spark.read.format("vcf").load(vcfPath)
    val out = Files.createTempDirectory("vcfw4").resolve("push").toString
    df.write.format("vcf").option("header", vcfPath)
      .mode("overwrite").save(out)
    val q = spark.read.format("vcf").option("sorted", "true").load(out)
      .filter("pos = 300").select("chrom", "pos", "alt")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("VcfScan pushed=") && !plan.contains("pushed=RegionFilter(None,-9223372036854775808"),
      s"pos predicate not pushed into the scan:\n$plan")
    assert(q.count() == 2)
  }
}
