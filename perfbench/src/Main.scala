package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py` in its own JVM per
  * run so JVM-global state (the font cache, JIT) never leaks between
  * workloads.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR [--trace-out FILE]
  *   Main --selftest
  *
  * The last stdout line is `PERFBENCH_RESULT {json}` with `correct`,
  * `attempted`, `failed`, `metrics` (name -> value) and `problems`. */
object Main {

  def session(c: Ctx, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      // the plan stays the same at every thread count: partitions follow
      // the host, not the session
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", c.path("spark-local"))
      .config("spark.sql.warehouse.dir", c.path("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def restartSession(c: Ctx, threads: Int): SparkSession = {
    c.spark.stop()
    session(c, threads)
  }

  /** Warm-up lasts at least this long, whatever the workload's pass count. */
  val WarmupS = 5.0

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; secs(t0) }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private val jitBean = ManagementFactory.getCompilationMXBean
  /** Time the JIT compilers have spent so far, summed over their threads. */
  private def jitS: Double = jitBean.getTotalCompilationTime / 1e3

  /** The host's (stolen, busy) CPU jiffies from /proc/stat, busy counting
    * the stolen ones; zeros where the file is unavailable. A virtual CPU
    * accrues steal only while it wants to run, so stolen ÷ busy is the
    * share of the pass's running time the hypervisor gave to others. */
  private def jiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
      val steal = if (v.length > 7) v(7) else 0L
      (steal, v.sum - v(3) - (if (v.length > 4) v(4) else 0L))
    } catch { case NonFatal(_) => (0L, 0L) }

  private def stolenSince(j0: (Long, Long)): Double = {
    val j1 = jiffies()
    if (j1._2 > j0._2) (j1._1 - j0._1).toDouble / (j1._2 - j0._2) else 0.0
  }

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--selftest")) sys.exit(SelfTest.run())
    val w = Workloads.byName(opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val c = new Ctx(opts("seed").toLong, opts("cores").toInt,
      java.nio.file.Paths.get(opts("work")), opts("trace") == "1")
    val seconds = opts("seconds").toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L

    // ---- set-up: session, inputs (built 3 times, median), expected
    // outputs, then the workload's warm passes and at least WarmupS seconds
    val setupJ0 = jiffies()
    val sessionS = time { c.spark = session(c, c.cores) }
    val inputS = (1 to 3).map(_ => time(w.build(c)))
    val expectS = time(w.expect(c))
    val warmStart = System.nanoTime()
    var warmPasses = 0
    while (warmPasses < w.warmPasses || secs(warmStart) < WarmupS) { w.pass(c); w.after(c); warmPasses += 1 }
    val warmS = secs(warmStart)
    out("setup_s") = jvmS + (sessionS + Stats.median(inputS) + expectS + warmS) * (1.0 - stolenSince(setupJ0))
    out("setup.jvm_s") = jvmS
    out("setup.session_s") = sessionS
    out("setup.input_s") = Stats.median(inputS)
    out("setup.expect_s") = expectS
    out("setup.warmup_s") = warmS
    System.err.println(f"[perfbench] ${w.name} seed=${c.seed} setup: jvm=$jvmS%.2f s " +
      f"session=$sessionS%.2f s inputs=${inputS.map(t => f"$t%.2f").mkString("/")} s " +
      f"expect=$expectS%.2f s warm=$warmS%.2f s")

    // ---- timed closed loop; in a traced run every other pass is traced
    System.gc()
    val plain = mutable.ArrayBuffer.empty[(Double, Double, Double)] // wall, cpu, docs/s
    val jits = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val steals = mutable.ArrayBuffer.empty[Double]
    val minPasses = 2
    val loopStart = System.nanoTime()
    var i = 0
    if (c.traced) c.spark.sparkContext.addSparkListener(c.probe)
    while (i < minPasses || secs(loopStart) < seconds) {
      val traced = c.traced && i % 2 == 1
      c.tracing = traced
      c.passFailed = 0
      val sc = c.spark.sparkContext
      val snap = if (traced) c.probe.snapshot(sc) else null
      val (h0, m0) = (graft.pdf.font.FontCache.hits, graft.pdf.font.FontCache.misses)
      val cpu0 = cpuS
      val jit0 = jitS
      val j0 = jiffies()
      val t0 = System.nanoTime()
      val res =
        try Some(if (traced) c.tracer.span("pass")(w.pass(c)) else w.pass(c))
        catch {
          case NonFatal(e) =>
            c.problems += s"${w.name}: pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            c.passFailed += w.unitsPerPass
            None
        }
      // wall time the pass would have taken on an unshared host: the
      // hypervisor's steal swings by 5-20% over minutes on small VMs and
      // would otherwise dominate the run-to-run spread
      val stolen = stolenSince(j0)
      val wall = secs(t0) * (1.0 - stolen)
      val cpu = cpuS - cpu0
      jits += jitS - jit0
      attempted += w.unitsPerPass
      failed += math.min(c.passFailed, w.unitsPerPass)
      res.foreach { p =>
        steals += stolen
        if (traced) tracedWalls += wall else plain += ((wall, cpu, p.docs / wall))
        if (traced) {
          val win = SparkProbe.window(c.probe, snap, c.probe.snapshot(sc))
          val ts = win.tasks
          c.note("spark.jobs", win.jobs.toDouble)
          c.note("spark.stages", win.stages.toDouble)
          c.note("spark.tasks", ts.size.toDouble)
          c.note("spark.executor_run_s", ts.map(_.runMs).sum / 1e3)
          c.note("spark.executor_cpu_s", ts.map(_.cpuNs).sum / 1e9)
          c.note("spark.gc_s", ts.map(_.gcMs).sum / 1e3)
          c.note("spark.shuffle_write_mb", ts.map(_.shuffleWrite).sum / 1048576.0)
          c.note("spark.shuffle_read_mb", ts.map(_.shuffleRead).sum / 1048576.0)
          c.note("spark.spill_mb", ts.map(_.spill).sum / 1048576.0)
          if (ts.nonEmpty) {
            c.note("spark.task_s_p50", Stats.median(ts.map(_.durationMs / 1e3)))
            c.note("spark.task_s_max", ts.map(_.durationMs).max / 1e3)
          }
          c.note("spark.core_idle_frac", 1.0 - ts.map(_.runMs).sum / 1e3 / (c.cores * wall))
          val (dh, dm) = (graft.pdf.font.FontCache.hits - h0, graft.pdf.font.FontCache.misses - m0)
          c.note("pdf.font.cache_misses", dm.toDouble)
          c.note("pdf.font.cache_hit_ratio", if (dh + dm > 0) dh.toDouble / (dh + dm) else 0.0)
        }
      }
      w.after(c)
      c.tracing = false
      // lets Spark's cleaner drop this pass's blocks before the next one
      System.gc()
      i += 1
    }
    // Spark drops a finished pass's blocks from a cleaner thread once a GC
    // has found them unreachable; give it time, then measure what stays
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    out("host.steal_frac") = if (steals.isEmpty) 0.0 else Stats.median(steals.toSeq)
    System.err.println(f"[perfbench] ${w.name} steal ${steals.map(x => f"$x%.3f").mkString(" ")}; " +
      f"passes (wall s / cpu s): " +
      plain.map { case (wl, cp, _) => f"$wl%.3f/$cp%.2f" }.mkString(" ") +
      jits.map(t => f"$t%.2f").mkString("; JIT s per pass: ", " ", "") +
      (if (tracedWalls.isEmpty) "" else tracedWalls.map(t => f"$t%.3f").mkString("; traced: ", " ", "")))

    if (!c.traced && plain.nonEmpty) {
      out("docs_per_s") = Stats.median(plain.map(_._3).toSeq)
      out("wall_s") = Stats.median(plain.map(_._1).toSeq)
      out("cpu_s") = Stats.median(plain.map(_._2).toSeq)
      out("heap_live_mb") = heapLiveMb
    } else if (c.traced) {
      c.spark.sparkContext.removeSparkListener(c.probe)
      c.noted.foreach { case (k, v) => out(k) = Stats.median(v) }
      if (plain.nonEmpty && tracedWalls.nonEmpty)
        out("trace.overhead_frac") =
          Stats.median(tracedWalls.toSeq) / Stats.median(plain.map(_._1).toSeq) - 1.0
      try w.extra(c, out)
      catch { case NonFatal(e) => c.problems += s"${w.name}: traced extra threw $e" }
      // kernel replay over the workload's fixed sample
      val reps = 3
      val rs = KernelReplay.run(w.sample, reps)
      out ++= KernelReplay.metrics(rs, reps)
      c.check(rs.matches == rs.docs,
        s"${w.name}: replay differs from the program for sample docs ${rs.mismatched.take(5).mkString(",")}")
      c.problems ++= SelfTest.treeProblems(rs.spans, "replay")
      c.problems ++= SelfTest.treeProblems(c.tracer.spans, "pass")
      opts.get("trace-out").foreach { p =>
        Tracer.write(c.tracer.spans, java.nio.file.Paths.get(p + ".passes.jsonl"))
        Tracer.write(rs.spans, java.nio.file.Paths.get(p + ".replay.jsonl"))
      }
    }
    out("error_frac") = if (attempted > 0) failed.toDouble / attempted else 0.0
    c.spark.stop()

    val metrics = out.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
    val problems = c.problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
    println(s"""PERFBENCH_RESULT {"correct":${c.problems.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{${metrics.mkString(",")}},"problems":[${problems.mkString(",")}]}""")
    sys.exit(if (c.problems.isEmpty) 0 else 1)
  }
}
