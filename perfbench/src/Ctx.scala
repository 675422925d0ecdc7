package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State shared by the orchestrator and one workload for one run. */
final class Ctx(val seed: Long, val cores: Int, val work: java.nio.file.Path, val traced: Boolean) {
  var spark: SparkSession = _
  val problems = mutable.ArrayBuffer.empty[String]
  /** Failed rows or thrown operations seen by the current pass. */
  var passFailed = 0L

  def check(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg

  // ---- tracing (only while a traced pass runs) ----
  val tracer = new Tracer
  val probe = new SparkProbe
  var tracing = false
  private val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** A per-layer sample from the current traced pass; the reported value
    * is the median over traced passes. */
  def note(name: String, v: Double): Unit =
    if (tracing) notes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def noted: Map[String, Seq[Double]] = notes.map { case (k, v) => k -> v.toSeq }.toMap

  /** One call into a layer's public entry point. In a traced pass it is
    * a span, and its wall time, jobs, stages and shuffle bytes become
    * `<name>_s`, `<name>.jobs`, `<name>.stages` and `<name>.shuffle_mb`. */
  def op[A](name: String)(f: => A): A =
    if (!tracing) f
    else {
      val sc = spark.sparkContext
      val a = probe.snapshot(sc)
      val t0 = System.nanoTime()
      val r = tracer.span(name)(f)
      val dt = (System.nanoTime() - t0) / 1e9
      val w = SparkProbe.window(probe, a, probe.snapshot(sc))
      note(s"${name}_s", dt)
      note(s"$name.jobs", w.jobs.toDouble)
      note(s"$name.stages", w.stages.toDouble)
      note(s"$name.shuffle_mb", w.shuffleMb)
      r
    }

  def path(name: String): String = work.resolve(name).toString
}
