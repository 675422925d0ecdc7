package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded call into a layer: `[start, end]` in nanoseconds, and the
  * span that was open on the same thread when it began (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the benchmark's own calls into the program.
  * Single-threaded by design: it wraps this program's calls into Spark and the
  * single-threaded kernel replay, never code running inside Spark tasks.
  * Spans stay in memory until written out with [[Tracer.write]]. */
final class Tracer {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    open = (id, name, System.nanoTime()) :: open
    try f
    finally {
      val end = System.nanoTime()
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, open.headOption.map(_._1).getOrElse(-1), name, start, end)
    }
  }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {

  /** Writes spans as JSON lines, one per span, in id order. */
  def write(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""")
        .append(s""""start_ns":${s.start},"end_ns":${s.end}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children of one thread never overlap, but
    * the union is taken anyway so a bad tree cannot go negative). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Problems with the tree: a parent that was never recorded, or a child
    * whose interval is not inside its parent's. Empty when it nests. */
  def nestingProblems(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(_.parent >= 0).flatMap { c =>
      byId.get(c.parent) match {
        case None => Seq(s"span ${c.id} (${c.name}) has unknown parent ${c.parent}")
        case Some(p) if c.start < p.start || c.end > p.end =>
          Seq(s"span ${c.id} (${c.name}) escapes parent ${p.id} (${p.name})")
        case _ => Nil
      }
    }
  }

  /** Summed self time per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupMapReduce(_.name)(s => self(s.id))(_ + _)
  }
}
