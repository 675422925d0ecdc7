package perfbench

import graft.spark.PagesGen

/** The benchmark's own test of its tracing: the span tree nests, self
  * times add up to the traced wall time, and the layer-by-layer replay
  * reproduces the program's output for every sampled doc. Spark-free. */
object SelfTest {

  /** Nesting problems, plus a check that the self times of every root's
    * subtree sum to the root's duration (exact in integer nanoseconds). */
  def treeProblems(spans: Seq[Span], what: String): Seq[String] = {
    val self = Tracer.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    def subtree(id: Int): Long = self(id) + kids.getOrElse(id, Nil).map(k => subtree(k.id)).sum
    Tracer.nestingProblems(spans).map(p => s"$what spans: $p") ++
      spans.filter(_.parent < 0).flatMap { r =>
        val sum = subtree(r.id)
        if (sum == r.dur) Nil
        else Seq(s"$what spans: self times of ${r.name} sum to $sum ns, its wall is ${r.dur} ns")
      }
  }

  def run(): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, msg: String): Unit = if (!ok) failures += msg

    // 1. self time on a tree with known times
    val known = Seq(Span(0, -1, "root", 0, 100), Span(1, 0, "a", 10, 30), Span(2, 0, "b", 40, 70),
      Span(3, 2, "c", 50, 60))
    val self = Tracer.selfTimes(known)
    expect(self == Map(0 -> 50L, 1 -> 20L, 2 -> 20L, 3 -> 10L), s"self times of the known tree: $self")
    expect(treeProblems(known, "known").isEmpty, "known tree reported as not nesting")
    expect(Tracer.nestingProblems(known :+ Span(4, 0, "escapes", 90, 110)).size == 1,
      "a child outside its parent went unnoticed")

    // 2. the replay over every kind of payload the workloads generate
    val sample =
      (0L until 60L).map(i => PagesGen.payload(i, 7L)._1) ++
        (0L until 10L).map(PagesGen.fontPdf) ++
        (0L until 4L).map(PagesGen.bigFontPdf) ++
        (0L until 3L).map(i => PagesGen.longPdf(i, 400)) ++
        (0L until 5L).map(PagesGen.structuredHtml)
    val rs = KernelReplay.run(sample, reps = 2)
    expect(rs.matches == sample.size,
      s"replay matched ${rs.matches} of ${sample.size} docs (differs: ${rs.mismatched.mkString(",")})")
    treeProblems(rs.spans, "replay").foreach(failures += _)
    val root = rs.spans.find(_.name == "replay").get
    expect(Tracer.selfTimes(rs.spans).values.sum == root.dur, "replay self times do not sum to its wall")
    val m = KernelReplay.metrics(rs, 2).toMap
    expect(m("kernel.replay_match") == sample.size, "kernel.replay_match is not the sample size")
    expect(math.abs(m.filter(_._1.startsWith("kernel.share.")).values.sum - 1.0) < 1e-9,
      "kernel shares do not sum to 1")

    if (failures.isEmpty) { println(s"selftest ok: ${rs.spans.size} replay spans, ${sample.size} docs"); 0 }
    else { failures.foreach(f => println(s"selftest FAILED: $f")); 1 }
  }
}
