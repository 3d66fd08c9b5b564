package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def span(id: Int, parent: Option[Int], start: Long, end: Long) =
    Span(id, parent, s"s$id", "run", start, end, Map.empty)

  test("self time subtracts the union of direct children, once") {
    val spans = Seq(
      span(0, None, 0L, 10000000000L),
      // two overlapping children cover [1 s, 5 s) together
      span(1, Some(0), 1000000000L, 4000000000L),
      span(2, Some(0), 3000000000L, 5000000000L),
      // a grandchild is inside its parent and does not count for span 0
      span(3, Some(1), 1500000000L, 2000000000L),
      // a child running past its parent counts only inside the parent
      span(4, Some(0), 9000000000L, 12000000000L))
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 10.0 - 4.0 - 1.0)
    assert(self(1) == 3.0 - 0.5)
    assert(self(2) == 2.0)
    assert(self(3) == 0.5)
  }

  test("spans nest by call order and carry counter deltas") {
    var n = 0.0
    val t = new Tracer("r", () => Map("jobs" -> n))
    t.span("outer") {
      n += 1
      t.span("inner") { n += 2 }
    }
    val Seq(outer, inner) = t.spans
    assert(outer.parent.isEmpty && inner.parent.contains(outer.id))
    assert(outer.counters("jobs") == 3.0 && inner.counters("jobs") == 2.0)
    val f = java.nio.file.Files.createTempFile("spans", ".jsonl")
    t.write(f)
    val lines = java.nio.file.Files.readAllLines(f)
    assert(lines.size == 2 && lines.get(1).contains("\"name\":\"inner\""))
  }
}
