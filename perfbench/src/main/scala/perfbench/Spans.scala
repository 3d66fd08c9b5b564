package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a graft layer. Times are `System.nanoTime`
  * readings; `parent` is the id of the span open when this one began.
  */
final case class Span(id: Int, parent: Option[Int], name: String,
    run: String, startNs: Long, endNs: Long, counters: Map[String, Double])

/** Collects spans in memory, nested by call order, and writes them out
  * once at the end of the run. Each span carries the change in
  * `counters` (drained listener totals) over its call.
  */
final class Tracer(run: String, counters: () => Map[String, Double]) {
  private val done = ArrayBuffer.empty[Span]
  private var current: Option[Int] = None
  private var next = 0

  def span[A](name: String)(f: => A): A = {
    val id = next
    next += 1
    val parent = current
    current = Some(id)
    val before = counters()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      done += Span(id, parent, name, run, t0, t1, Recorder.delta(counters(), before))
      current = parent
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Writes one JSON object per span; `self_s` is the span's own time. */
  def write(path: java.nio.file.Path): Unit = {
    val self = Tracer.selfTimes(spans)
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent.map(_.toString).getOrElse("null")},""" +
        s""""name":${Json.str(s.name)},"run":${Json.str(s.run)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Json.num(self(s.id))},"counters":{$cs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** A span's self time: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}
