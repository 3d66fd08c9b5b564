package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Keeps one session factory and one kernel table: fails when main code
  * builds a session outside GraftSession, brings back a hand-kept
  * registration call, or names a graft kernel inside a SQL string
  * (operators use the typed helpers, which need no registry).
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

  test("the guard sees a kernel name in a SQL string") {
    val code = """df.select(expr("round(" + "sig_eq_count(a, b) / 64.0e0, 6)"))"""
    val at = code.indexOf("expr(") + 4
    assert(argStrings(code, at) == Seq("round(", "sig_eq_count(a, b) / 64.0e0, 6)"))
  }
}
