package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded documents table with the testdata `documents` schema
  * (doc_id, text, lang, source, n_chars) and the same word-soup text,
  * plus the structure the curation stages act on: exact copies,
  * near-duplicates (a few words changed), containment (a document
  * quoted inside a longer one), code-like documents for the modality
  * router, and per-source banner lines for the boilerplate trim.
  */
object Corpus {
  private val vocab = Vector("a", "the", "data", "row", "column", "table",
    "query", "scan", "filter", "join", "sort", "hash", "group", "agg",
    "window", "stream", "batch", "spark", "vector", "key", "value", "line",
    "part", "order", "customer", "merge", "fast", "slow", "big", "small",
    "index")
  private val langs = Vector("en", "de", "fr", "es", "zh")

  final case class Doc(docId: Long, text: String, lang: String,
      source: String, nChars: Long)

  /** `n` documents; returns them with the number of distinct texts.
    * Copies, near-duplicates and containers derive from plain
    * "original" documents only, so no chain of derivations grows a
    * document, and the corpus costs about the same for every seed.
    */
  def generate(n: Int, seed: Long): (Seq[Doc], Int) = {
    val rnd = new SplittableRandom(seed)
    def words(k: Int): Seq[String] = Seq.fill(k)(vocab(rnd.nextInt(vocab.length)))
    val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    def original(): String = originals(rnd.nextInt(originals.length))
    val texts = (0 until n).map { i =>
      val u = if (originals.length < 10) 1.0 else rnd.nextDouble()
      if (u < 0.03) original()
      else if (u < 0.10) {
        val ws = original().split(' ')
        (0 until 1 + rnd.nextInt(3)).foreach(_ =>
          ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length)))
        ws.mkString(" ")
      } else if (u < 0.13) (original() +: words(20 + rnd.nextInt(40))).mkString(" ")
      else if (u < 0.16)
        (0 until 3 + rnd.nextInt(6)).map { j =>
          s"def f$j(x): return x * ${rnd.nextInt(100)} + len(${vocab(rnd.nextInt(vocab.length))})"
        }.mkString("\n")
      else {
        val body = words(8 + rnd.nextInt(90)).mkString(" ")
        originals += body
        if (rnd.nextDouble() < 0.2) s"shared from source ${i % 20} archive\n$body"
        else body
      }
    }
    val docs = texts.indices.map { i =>
      Doc(i.toLong, texts(i), langs(rnd.nextInt(langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    (docs, texts.distinct.length)
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
