package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Keeps one session factory, one kernel table and one zlib encoder:
  * fails when main code builds a session outside GraftSession, brings
  * back a hand-kept registration call, names a graft kernel inside a
  * SQL string (operators use the typed helpers, which need no registry),
  * deflates through java.util.zip instead of `Deflate`, or names
  * parquet's dictionary option outside `DbSink`. Keeps one trio dim and
  * one metadata read on the database's read side: fails when a second
  * function names the trio dim's index columns or collects `vcf_header`,
  * or when PED rows go through an RDD. Keeps the codegen settings in the
  * one session factory.
  */
class DesignGuardSpec extends AnyFunSuite {

  private val sources: Seq[(Path, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.size > 10, "src/main/scala not found from the test's working directory")
    files.map(f => f -> stripComments(Files.readString(f)))
  }

  /** Code only: block comments and `//` comments are dropped, so
    * scaladoc may still show users the SQL names.
    */
  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "$1")

  /** The `def` (or class) each match of `re` sits in, with its code up
    * to the next `def` or class.
    */
  private def enclosingDefs(code: String, re: scala.util.matching.Regex): Seq[(String, String)] = {
    val starts = "\\b(?:def|class)\\s+(\\w+)".r.findAllMatchIn(code).map(m => m.start -> m.group(1)).toVector
    re.findAllMatchIn(code).map { m =>
      val i = starts.lastIndexWhere(_._1 < m.start)
      if (i < 0) ("<none>", "")
      else (starts(i)._2, code.substring(starts(i)._1,
        if (i + 1 < starts.length) starts(i + 1)._1 else code.length))
    }.toSeq
  }

  /** The string literals inside the argument list that opens at `from`. */
  private def argStrings(code: String, from: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var i = from
    var done = false
    while (!done && i < code.length) {
      if (code.startsWith("\"\"\"", i)) {
        val end = code.indexOf("\"\"\"", i + 3)
        out += code.substring(i + 3, end); i = end + 3
      } else if (code.charAt(i) == '"') {
        var j = i + 1
        while (code.charAt(j) != '"') j += (if (code.charAt(j) == '\\') 2 else 1)
        out += code.substring(i + 1, j); i = j + 1
      } else {
        code.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; done = depth == 0
          case _ =>
        }
        i += 1
      }
    }
    out.result()
  }

  test("SparkSession.builder appears only in GraftSession (core.scala)") {
    val offenders = sources.collect {
      case (f, code) if "SparkSession\\s*\\.\\s*builder".r.findFirstIn(code).isDefined &&
        f.getFileName.toString != "core.scala" => f.toString
    }
    assert(offenders.isEmpty, s"a second session factory: $offenders")
  }

  test("no hand-kept kernel registration") {
    val offenders = sources.collect {
      case (f, code) if "GraftFunctions\\s*\\.\\s*register|def\\s+register\\s*\\(".r
        .findFirstIn(code).isDefined => f.toString
    }
    assert(offenders.isEmpty, s"a second kernel registry: $offenders")
  }

  test("no graft kernel is named inside an expr / call_function / selectExpr string") {
    val kernel = GraftFunctions.table.map(_.name).mkString("\\b(", "|", ")\\b").r
    val call = "\\b(expr|call_function|selectExpr)\\s*\\(".r
    val offenders = for {
      (f, code) <- sources
      m <- call.findAllMatchIn(code)
      lit <- argStrings(code, m.end - 1)
      k <- kernel.findFirstIn(lit)
    } yield s"$f: $k in \"$lit\""
    assert(offenders.isEmpty, s"use the typed helpers instead: ${offenders.mkString("; ")}")
  }

  test("java.util.zip.Deflater appears nowhere: Deflate is the one zlib encoder") {
    val users = sources.collect {
      case (f, code) if "\\bDeflater|GZIPOutputStream".r.findFirstIn(code).isDefined => f.getFileName.toString
    }
    assert(users.isEmpty, s"a second deflate path: $users")
  }

  test("parquet.enable.dictionary appears only in DbSink: one list of plain-written columns") {
    val users = sources.collect {
      case (f, _) if Files.readString(f).contains("parquet.enable.dictionary") &&
        f.getFileName.toString != "DbSink.scala" => f.toString
    }
    assert(users.isEmpty, s"take the options from DbSink.parquetOptions: $users")
  }

  test("one trio derivation: only Inheritance.trios names the dim's index columns") {
    val namers = for {
      (f, code) <- sources
      (d, _) <- enclosingDefs(code, "(?<!\\$)\"[cdm]_ix\"".r)
    } yield s"${f.getFileName}:$d"
    assert(namers.toSet == Set("Inheritance.scala:trios"), s"a second trio derivation: $namers")
  }

  test("one metadata read: only GraftDb.Metadata collects vcf_header") {
    val collecting = "\\.(collect|collectAsList|head|first|take|toLocalIterator)\\(".r
    val readers = for {
      (f, code) <- sources
      (d, body) <- enclosingDefs(code, "\\bvcfHeader\\s*\\(|/vcf_header\"".r)
      if collecting.findFirstIn(body).isDefined
    } yield s"${f.getFileName}:$d"
    assert(readers.distinct == Seq("Vcf2Db.scala:Metadata"),
      s"vcf_header collected outside GraftDb.Metadata: $readers")
  }

  test("spark.sql.codegen.* is set only in GraftSession.build") {
    val setters = for {
      (f, code) <- sources
      (d, _) <- enclosingDefs(code, "spark\\.sql\\.codegen\\.".r)
    } yield s"${f.getFileName}:$d"
    assert(setters.distinct == Seq("core.scala:build"),
      s"codegen conf set outside GraftSession.build: $setters")
  }

  test("PedSource builds local relations, never an RDD") {
    val (_, ped) = sources.find(_._1.getFileName.toString == "PedSource.scala").get
    assert(!ped.contains("parallelize"), "PED rows go through sparkContext.parallelize")
  }

  test("the guard sees a kernel name in a SQL string") {
    val code = """df.select(expr("round(" + "sig_eq_count(a, b) / 64.0e0, 6)"))"""
    val at = code.indexOf("expr(") + 4
    assert(argStrings(code, at) == Seq("round(", "sig_eq_count(a, b) / 64.0e0, 6)"))
  }
}
