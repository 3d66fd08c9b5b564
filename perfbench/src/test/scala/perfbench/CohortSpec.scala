package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class CohortSpec extends AnyFunSuite {
  private def tmp(): File = Files.createTempDirectory("perfbench").toFile

  test("the same seed writes the same cohort and tally") {
    val (a, b, c) = (new File(tmp(), "a.vcf"), new File(tmp(), "b.vcf"), new File(tmp(), "c.vcf"))
    val ta = Cohort.writeVcf(a, 300, 7L)
    assert(Cohort.writeVcf(b, 300, 7L) == ta)
    assert(Files.readAllBytes(a.toPath).sameElements(Files.readAllBytes(b.toPath)))
    assert(Cohort.writeVcf(c, 300, 8L) != ta)
    assert(ta.multiAllelicRecords > 0 && ta.rows == ta.records + ta.multiAllelicRecords)
    assert(ta.unknown > 0 && ta.allAffectedHet > 0)
    assert(ta.csqEntries >= ta.records && ta.csqEntries <= 3 * ta.records)
  }

  test("the corpus generator is seeded and plants exact duplicates") {
    val (docs, distinct) = Corpus.generate(500, 3L)
    assert(Corpus.generate(500, 3L) == ((docs, distinct)))
    assert(distinct < docs.size)
    assert(docs.exists(_.text.startsWith("def ")))
  }

  test("the load checks pass on a real load and name a corrupted tally") {
    val spark = GraftSession.build("local[2]", 2)
    try {
      val h = new Harness(spark, tmp(), 5L, new Recorder(spark.sparkContext))
      val load = new Load(records = 400)
      load.setup(h)
      load.pass(h)
      load.verify(h)
      assert(h.failed == 0 && h.checkResults.nonEmpty && h.checkResults.forall(_._2),
        h.checkResults.filterNot(_._2).mkString("; "))
      val t = load.tally
      val h2 = new Harness(spark, h.work, 5L, h.recorder)
      load.verifyAgainst(h2, t.copy(het = t.het + 1))
      val failed = h2.checkResults.filterNot(_._2).map(_._1)
      assert(failed == Seq("load.genotype_class_sums", "load.blob_round_trip"))
    } finally spark.stop()
  }
}
