package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.WebGraph
import graft.pdf.Outputs
import graft.pdf.font.FontCache
import graft.pdf.testgen.PdfBuilder
import graft.spark.{ExtractJob, PageRow, PagesGen}

/** Side measurements and plan dumps beside the frozen `graft.Bench`,
  * as subcommands over one shared core. The core builds the session
  * once (master = SPARK_GRAFT_CPUS, else the host's core count); times
  * a pass as wall and process-CPU seconds (hypervisor steal is not
  * charged to process CPU, so CPU seconds stay comparable when wall
  * time swings) and counts the Spark jobs and stages it ran and the
  * shuffle bytes its stages wrote and read; runs arms
  * interleaved, so an ambient noise burst hits every arm rather than
  * one; and prints ONE JSON line with the host's core count and every
  * sample. A query, plan or check that throws is reported with its
  * error, never as a time, and the process then exits non-zero.
  *
  * Usage: runMain graft.Perf <subcommand> [args]
  *   cpu [nDocs] [passes]             CPU s per extraction pass, bench corpus
  *   scaling [nDocs] [outJson] [n] [rounds]   docs/s at local[n] vs local[4n] (n = cores/4)
  *   ab dedup|fontcache|salt [nDocs] [rounds]   interleaved two-arm A/B
  *   large [nDocs] [pagesPerDoc]      MB/s on multi-hundred-page PDFs
  *   kernel [reps]                    single-thread, Spark-free ns/doc per kind
  *   queries q1,q2                    min wall, jobs, stages, shuffle MB per query
  *   plans [q1,q2]                    formatted plans into target/plans/
  *   stress [nDocs]                   size-gated operators vs references
  *
  * `queries` and `plans` read the tables under SPARK_GRAFT_SF_DIR, and
  * `queries` runs SPARK_GRAFT_BENCH_ROUNDS rounds (default 3), as
  * `graft.Bench` does. The bench corpus is SPARK_GRAFT_BENCH_CORPUS
  * (mixed by default; plain; heavy for `ab dedup`). For a profile, add
  * `-XX:StartFlightRecording` to the JVM options of any subcommand.
  */
object Perf {

  /** One timed pass. */
  private final case class Sample(wall: Double, cpu: Double, jobs: Int, stages: Int,
                                  shuffleWriteMb: Double, shuffleReadMb: Double)

  /** A JSON object whose fields print in order. */
  private final case class Obj(fields: (String, Any)*)

  def main(args: Array[String]): Unit = {
    val spark = session(cores)
    val (line, code) =
      try run(spark, args.toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", ""))
      finally spark.stop()
    println(line)
    if (code != 0) sys.exit(code)
  }

  /** Runs one subcommand on `spark` and returns its JSON line and the
    * process exit code. `scaling` stops `spark` (it times fresh
    * sessions of its own). A subcommand signals partial failure with a
    * "failed" field. */
  def run(spark: SparkSession, args: Seq[String], sfDir: String): (String, Int) = {
    val cmd = args.headOption.getOrElse("")
    val head = Seq("cmd" -> cmd, "host_cores" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master)
    val rest = args.drop(1)
    val fields =
      try cmd match {
        case "cpu" => cpu(spark, rest)
        case "scaling" => scaling(spark, rest)
        case "ab" => ab(spark, rest)
        case "large" => large(spark, rest)
        case "kernel" => kernel(rest)
        case "queries" => queries(spark, rest, sfDir)
        case "plans" => plans(spark, rest, sfDir)
        case "stress" => stress(spark, rest)
        case _ => Seq("failed" -> Seq(cmd), "error" ->
          "usage: graft.Perf cpu|scaling|ab|large|kernel|queries|plans|stress [args]")
      } catch { case NonFatal(e) => Seq("failed" -> Seq(cmd), "error" -> e.toString) }
    (json(Obj(head ++ fields: _*)), if (fields.exists(_._1 == "failed")) 1 else 0)
  }

  // ---------------------------------------------------------------- core

  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def session(width: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$width]")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private final class Counts extends SparkListener {
    val jobs, stages = new AtomicInteger
    val shuffleWrite, shuffleRead = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = e.stageInfo.taskMetrics
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Bytes as MB (2^20) to the KB: a count() stage's few-byte shuffle reads 0. */
  private def mb(bytes: Long): Double = math.round(bytes / 1024.0) / 1024.0

  /** Times `f` on `spark`: wall and process-CPU seconds, plus the jobs
    * and stages it ran and their shuffle MB written and read (counted
    * after the listener bus has drained). */
  private def time(spark: SparkSession)(f: => Any): Sample = {
    val sc = spark.sparkContext
    val counts = new Counts
    sc.addSparkListener(counts)
    try {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      ListenerBusDrain(sc)
      Sample(wall, cpu, counts.jobs.get, counts.stages.get,
        mb(counts.shuffleWrite.get), mb(counts.shuffleRead.get))
    } finally sc.removeSparkListener(counts)
  }

  /** `warm` untimed passes of every arm (JIT), then `rounds` rounds that
    * run each arm once, in turn. Returns each arm's samples. */
  private def interleave(rounds: Int, warm: Int)(
      arms: (String, () => Sample)*): Seq[(String, Seq[Sample])] = {
    for (_ <- 1 to warm; (_, arm) <- arms) arm()
    val byRound = (1 to rounds).map { r =>
      val row = arms.map(_._2())
      System.err.println(s"[perf] round $r: " + arms.map(_._1).zip(row).map { case (n, s) =>
        f"$n wall=${s.wall}%.2f s cpu=${s.cpu}%.2f s" }.mkString(" | "))
      row
    }
    arms.map(_._1).zipWithIndex.map { case (n, i) => n -> byRound.map(_(i)) }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The q-quantile of `xs`, interpolating linearly between ranks. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val r = q * (s.length - 1)
    val lo = r.toInt
    s(lo) + (r - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
  }

  private def stats(xs: Seq[Double]): Obj =
    Obj("min" -> xs.min, "median" -> median(xs), "samples" -> xs)

  /** Wall and CPU stats of an arm, with the fastest pass's jobs and stages. */
  private def summary(xs: Seq[Sample]): Obj = {
    val best = xs.minBy(_.wall)
    Obj("wall_s" -> stats(xs.map(_.wall)), "cpu_s" -> stats(xs.map(_.cpu)),
      "jobs" -> best.jobs, "stages" -> best.stages)
  }

  private def json(v: Any): String = v match {
    case Obj(fs @ _*) => fs.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    case x => x.toString
  }

  private def num(args: Seq[String], i: Int, default: Long): Long =
    args.lift(i).map(_.toLong).getOrElse(default)

  private def corpus: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_CORPUS", "mixed")

  private def noop(ds: Dataset[_]): Unit = ds.write.mode("overwrite").format("noop").save()

  // --------------------------------------------------------- subcommands

  /** Process-CPU seconds per extraction pass over the bench corpus. */
  private def cpu(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    val nDocs = num(args, 0, 150000)
    val passes = num(args, 1, 4).toInt
    val pages = PagesGen.benchCorpus(spark, nDocs, 42L, 64, corpus).toDF().cache()
    pages.count()
    val xs = interleave(passes, 1)(
      "extract" -> (() => time(spark)(noop(ExtractJob.extract(pages))))).head._2
    pages.unpersist()
    Seq("corpus" -> corpus, "n_docs" -> nDocs,
      "docs_per_cpu_sec" -> nDocs / xs.map(_.cpu).min) ++ summary(xs).fields
  }

  /** Scaling efficiency: the same extraction over the same bucketed
    * pages table, read as `ExtractMain` reads it (`readBucketed`), at
    * local[n] and local[4n], each pass in a fresh session,
    * widths alternating for `rounds` rounds (default 3); efficiency =
    * (docs/s at 4n) / (docs/s at n) / 4, from each width's min wall.
    * Beside it, each round's paired efficiency (that round's local[n]
    * wall / local[4n] wall / 4) with their median and IQR: a noise
    * burst then moves one pair, not the whole figure. The corpus is
    * written and the JIT warmed (two full passes) on `spark`, which is
    * then stopped. */
  private def scaling(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    val nDocs = num(args, 0, 8000)
    val n = num(args, 2, math.max(1, cores / 4)).toInt
    val rounds = num(args, 3, 3).toInt
    val dir = "target/perf/scaling-corpus"
    PagesGen.writeBucketed(PagesGen.benchCorpus(spark, nDocs, 42L, 64, corpus), dir, nBuckets = 64)
    ExtractJob.extract(PagesGen.readBucketed(spark, dir)).count()
    ExtractJob.extract(PagesGen.readBucketed(spark, dir)).count()
    spark.stop()
    val rows = mutable.Set.empty[Long]
    def at(width: Int): () => Sample = () => {
      val s = session(width)
      try {
        val pages = PagesGen.readBucketed(s, dir)
        time(s)(rows += ExtractJob.extract(pages).count())
      } finally { s.stop(); System.gc() }
    }
    val Seq(a, b) = interleave(rounds, 0)(s"local[$n]" -> at(n), s"local[${4 * n}]" -> at(4 * n)).map(_._2)
    require(rows == Set(nDocs), s"row counts ${rows.mkString(",")} vs $nDocs docs")
    val (tN, t4N) = (a.map(_.wall).min, b.map(_.wall).min)
    val paired = a.zip(b).map { case (x, y) => x.wall / y.wall / 4 }
    val fields = Seq("n_docs" -> nDocs, "n_cores" -> n, "t_localN_sec" -> tN, "t_local4N_sec" -> t4N,
      "docs_per_sec_N" -> nDocs / tN, "docs_per_sec_4N" -> nDocs / t4N,
      "scaling_efficiency" -> tN / t4N / 4, "target" -> 0.8, "corpus" -> corpus,
      "paired_efficiency" -> Obj("median" -> median(paired),
        "iqr" -> (quantile(paired, 0.75) - quantile(paired, 0.25)), "samples" -> paired),
      "localN" -> summary(a), "local4N" -> summary(b))
    args.lift(1).foreach(out => Files.writeString(Paths.get(out), json(Obj(fields: _*)) + "\n"))
    fields
  }

  /** Interleaved A/B of one engine feature, treatment arm first:
    *  - dedup: `extractDeduped` vs `extract` over a crawl-shaped corpus
    *    where every payload appears under 3 urls, mirrors spread over
    *    the id space (so no scan partition holds a doc's copies);
    *  - fontcache: the cross-document FontCache on vs off over docs that
    *    share a 2,000-entry ToUnicode CMap (the CJK / subset-font size);
    *  - salt: heavy-row salting on vs off over a corpus whose 1% of
    *    ~50-page PDFs is clustered at the front of the id space and
    *    carries most of the bytes. Each pass also records the
    *    per-partition busy spread (max / mean of summed duration_ms).
    * cpu_saving = 1 - A/B of the min CPU s; wall_speedup = B/A of the min wall s. */
  private def ab(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    import spark.implicits._
    val which = args.headOption.getOrElse("")
    val nDocs = num(args, 1,
      which match { case "dedup" => 40000; case "fontcache" => 60000; case _ => 20000 })
    val rounds = num(args, 2, 3).toInt
    val baseTs = 1735689600000L
    val plain = ExtractJob.Config(salt = false)
    val fontCacheWas = FontCache.enabled
    type Arms = (DataFrame, Seq[(String, () => Unit)], () => Seq[(String, Any)])
    val (pages, arms, extra): Arms = which match {
      case "dedup" =>
        val bench = corpus
        val pages = spark.range(0, nDocs * 3, 1, 64).mapPartitions(_.map { id =>
          val payloadId = id % nDocs
          PageRow(s"mirror-${id / nDocs}/" + PagesGen.url(payloadId, "pdf"),
            new java.sql.Timestamp(baseTs + id * 1000L),
            PagesGen.benchPayload(payloadId, 42L, bench), "", "en")
        }).toDF()
        (pages, Seq("deduped" -> (() => noop(ExtractJob.extractDeduped(pages, plain))),
          "plain" -> (() => noop(ExtractJob.extract(pages, plain)))), () => Seq("corpus" -> bench))
      case "fontcache" =>
        val pages = spark.range(0, nDocs, 1, 64).map { id =>
          PageRow(PagesGen.url(id, "pdf"), new java.sql.Timestamp(0L), PagesGen.bigFontPdf(id), "", "en")
        }.toDF()
        (pages, Seq(
          "cached" -> (() => {
            FontCache.enabled = true; FontCache.clear(); noop(ExtractJob.extract(pages, plain)) }),
          "uncached" -> (() => { FontCache.enabled = false; noop(ExtractJob.extract(pages, plain)) })),
          () => Seq("hits" -> FontCache.hits, "misses" -> FontCache.misses))
      case "salt" =>
        val nHeavy = math.max(1L, nDocs / 100)
        val pages = spark.range(0, nDocs, 1, 64).mapPartitions(_.map { id =>
          PageRow(PagesGen.url(id, "pdf"), new java.sql.Timestamp(baseTs + id * 1000L),
            if (id < nHeavy) PagesGen.longPdf(id, 2000) else PagesGen.payload(id, 42L)._1, "", "en")
        }).toDF()
        // the threshold routes exactly the clustered tail to the salted exchange
        val salted = ExtractJob.Config(salt = true, heavyThresholdBytes = 100 * 1024)
        val spread = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
        def busy(arm: String, cfg: ExtractJob.Config): () => Unit = () => {
          val perPart = ExtractJob.extract(pages, cfg).groupBy(col("partition_id"))
            .agg(sum(col("duration_ms"))).collect().map(_.getDouble(1))
          spread(arm) :+= perPart.max / (perPart.sum / perPart.length)
        }
        (pages, Seq("salted" -> busy("salted", salted), "unsalted" -> busy("unsalted", plain)), () => {
          val bytes = pages.agg(sum(when(length(col("html")) > 100 * 1024, length(col("html")))),
            sum(length(col("html")))).collect()(0)
          Seq("n_heavy" -> nHeavy, "heavy_bytes_pct" -> 100.0 * bytes.getLong(0) / bytes.getLong(1),
            "salted_busy_spread" -> spread("salted").takeRight(rounds),
            "unsalted_busy_spread" -> spread("unsalted").takeRight(rounds))
        })
      case other => throw new IllegalArgumentException(s"ab arm '$other': use dedup, fontcache or salt")
    }
    pages.cache().count()
    try {
      val runs = interleave(rounds, 1)(arms.map { case (n, f) => n -> (() => time(spark)(f())) }: _*)
      val Seq(a, b) = runs.map(_._2)
      Seq("arm" -> which, "n_docs" -> nDocs, "rounds" -> rounds) ++
        runs.map { case (n, xs) => n -> summary(xs) } ++ Seq(
        "cpu_saving" -> (1 - a.map(_.cpu).min / b.map(_.cpu).min),
        "wall_speedup" -> b.map(_.wall).min / a.map(_.wall).min) ++ extra()
    } finally { FontCache.enabled = fontCacheWas; pages.unpersist() }
  }

  /** Throughput on multi-hundred-page compressed PDFs, where per-doc
    * fixed costs amortize and MB/s compares like for like with
    * published per-byte figures. */
  private def large(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    import spark.implicits._
    val nDocs = num(args, 0, 64)
    val pagesPerDoc = num(args, 1, 400).toInt
    val width = spark.sparkContext.defaultParallelism
    val pages = spark.range(0, nDocs, 1, width).map { id =>
      val rnd = new java.util.Random(id * 0x9e3779b97f4a7c15L + 11L)
      val body = (0 until pagesPerDoc).map { _ =>
        (0 until 40).map(k => PdfBuilder.Line(72f, 720f - 14f * (k % 48), 11f, "F1",
          PagesGen.sentence(rnd, 6 + rnd.nextInt(8))))
      }
      (s"https://big.example/doc$id.pdf", PdfBuilder.multiPage(body, compress = true))
    }.toDF("url", "html").cache()
    val mb = pages.selectExpr("sum(length(html))").collect()(0).getLong(0) / 1e6
    val xs = interleave(3, 1)("extract" -> (() => time(spark)(
      noop(ExtractJob.extract(pages, ExtractJob.Config(maxPages = pagesPerDoc)))))).head._2
    pages.unpersist()
    val t = xs.map(_.wall).min
    Seq("n_docs" -> nDocs, "pages_per_doc" -> pagesPerDoc, "cores" -> width,
      "total_mb" -> mb, "avg_doc_mb" -> mb / nDocs, "mb_per_sec" -> mb / t,
      "mb_per_sec_core" -> mb / t / width, "pages_per_sec" -> nDocs * pagesPerDoc / t) ++ summary(xs).fields
  }

  /** Single-threaded, Spark-free thread-CPU ns/doc of the extraction
    * kernel over fixed fixture docs per kind: isolates the kernel from
    * the scheduling noise a whole-job probe carries. Two arms per kind,
    * alternating: `all` builds every output, as a plan that reads
    * markdown or html does; `text_only` builds text, as a plan that
    * reads neither does. */
  private def kernel(args: Seq[String]): Seq[(String, Any)] = {
    val reps = num(args, 0, 7).toInt
    val tmx = ManagementFactory.getThreadMXBean
    def mixed(kind: String) = Iterator.from(0).map(i => PagesGen.payload(i.toLong, 42L))
      .collect { case (b, `kind`) => b }.take(64).toArray
    val kinds = Seq("textPdf" -> mixed("pdf"), "html" -> mixed("html"),
      "fontPdf" -> Array.tabulate(48)(i => PagesGen.fontPdf(i.toLong)),
      "bigFontPdf" -> Array.tabulate(12)(i => PagesGen.bigFontPdf(i.toLong)))
    // each doc through ExtractJob.extractOne, as the extraction function runs it
    var sink = 0
    def pass(docs: Array[Array[Byte]], outputs: Outputs): Unit = docs.foreach { d =>
      val r = ExtractJob.extractOne("", d, 0, ExtractJob.Config(), outputs)
      sink += r.text.length + r.markdown.length + r.html.length
    }
    val arms = Seq("all" -> Outputs.All, "text_only" -> Outputs.TextOnly)
    for (_ <- 1 to 3; (_, docs) <- kinds; (_, o) <- arms) pass(docs, o)
    val perKind = kinds.map { case (name, docs) =>
      val ns = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
      for (rep <- 1 to reps; (arm, o) <- if (rep % 2 == 1) arms else arms.reverse) {
        val c0 = tmx.getCurrentThreadCpuTime
        pass(docs, o)
        ns(arm) :+= (tmx.getCurrentThreadCpuTime - c0).toDouble / docs.length
      }
      val saving = 1.0 - median(ns("text_only")) / median(ns("all"))
      name -> Obj(arms.map { case (arm, _) => arm -> stats(ns(arm)) } :+ ("text_only_saving" -> saving): _*)
    }
    Seq("unit" -> "thread_cpu_ns_per_doc", "reps" -> reps) ++ perKind :+ ("_sink" -> sink % 1000)
  }

  private def queryNames(args: Seq[String]): Seq[String] =
    args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** SparkEntry queries timed as `graft.Bench` times them: round-robin
    * rounds, `fn(spark, sfDir).count()`, per-query min and median, cache
    * cleared between rounds. An untimed round runs each query once first,
    * so the timed rounds start past JIT warm-up. A query that throws is
    * dropped from later rounds and reported with its error instead of a
    * time. */
  private def queries(spark: SparkSession, args: Seq[String], sfDir: String): Seq[(String, Any)] = {
    val names = queryNames(args)
    require(names.nonEmpty, "pass query names: queries q1,q2")
    require(sfDir.nonEmpty, "set SPARK_GRAFT_SF_DIR to the generated tables")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    // the same JIT/classload warm-up as graft.Bench
    ExtractJob.extract(PagesGen.generate(spark, 64, 1L, 4).toDF(), ExtractJob.Config(salt = false)).count()
    val samples = mutable.Map.empty[String, Vector[Sample]].withDefaultValue(Vector.empty)
    val errors = mutable.Map.empty[String, String]
    for (round <- 0 to rounds) {
      for (name <- names if !errors.contains(name)) {
        try {
          val fn = SparkEntry.queries.getOrElse(name,
            throw new NoSuchElementException(s"unknown query $name"))
          val sample = time(spark)(fn(spark, sfDir).count())
          if (round > 0) samples(name) :+= sample
        } catch { case NonFatal(e) => errors(name) = e.toString }
      }
      spark.catalog.clearCache()
      System.err.println(s"[perf] queries round $round/$rounds done" + (if (round == 0) " (warm-up)" else ""))
    }
    val per = names.map { n =>
      n -> errors.get(n).map(e => Obj("error" -> e)).getOrElse {
        val best = samples(n).minBy(_.wall)
        Obj("wall_s" -> best.wall, "median_s" -> median(samples(n).map(_.wall)), "jobs" -> best.jobs,
          "stages" -> best.stages, "shuffle_write_mb" -> best.shuffleWriteMb,
          "shuffle_read_mb" -> best.shuffleReadMb, "samples" -> samples(n).map(_.wall))
      }
    }
    val failed = names.filter(errors.contains)
    Seq("sf" -> sfDir, "rounds" -> rounds, "queries" -> Obj(per: _*),
      "total_s" -> names.filterNot(errors.contains).map(samples(_).map(_.wall).min).sum) ++
      (if (failed.isEmpty) Nil else Seq("failed" -> failed))
  }

  /** Formatted physical plans, one file per plan under target/plans/,
    * each starting with the plan's Check: note when it has one. No
    * names: every plan that carries a note. */
  private def plans(spark: SparkSession, args: Seq[String], sfDir: String): Seq[(String, Any)] = {
    val names = if (args.isEmpty) planNotes.map(_._1) else queryNames(args)
    val notes = planNotes.toMap
    val dir = Paths.get("target", "plans")
    Files.createDirectories(dir)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val written = names.flatMap { name =>
      try {
        val plan = planFrame(spark, sfDir, name).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val file = dir.resolve(s"$name.txt")
        Files.writeString(file, notes.get(name).fold("")(_ + "\n\n") + plan)
        Some(file.toString)
      } catch { case NonFatal(e) => errors(name) = e.toString; None }
      finally spark.catalog.clearCache()
    }
    Seq("dir" -> dir.toString, "written" -> written) ++
      (if (errors.isEmpty) Nil else Seq("errors" -> Obj(errors.toSeq: _*), "failed" -> errors.keys.toSeq))
  }

  /** A SparkEntry query, or one of the plans that is not a query: the
    * extraction job, and one round of each iterative operator taken
    * before its loop checkpoints (the loop truncates lineage every
    * round, so the round body is the plan that matters). */
  private def planFrame(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def anchors() = WebGraph.extractAnchors(WebGraph.syntheticWeb(docs, docs.count()))
      .select(col("src"), col("dst"))
    def graph() = {
      val edges = WebGraph.distinctEdges(anchors()).localCheckpoint(true)
      (edges, WebGraph.nodeSet(edges).localCheckpoint(true))
    }
    name match {
      case "extract" =>
        val dir = "target/perf/plan-pages"
        PagesGen.writeBucketed(PagesGen.generate(spark, 200, 42L, 4), dir, 8)
        ExtractJob.extract(PagesGen.readBucketed(spark, dir)).toDF()
      case "web_pagerank_round" =>
        val (edges, nodes) = graph()
        val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
        val ranks0 = nodes.select(col("url"), lit(1000000L).as("pr")).localCheckpoint(true)
        WebGraph.rankRound(edges, outdeg, nodes, ranks0, Seq("pr" -> lit(49999L)))
      case "web_hits_round" =>
        val (edges, nodes) = graph()
        val scores = nodes.select(col("url"), lit(1000L).as("hub"), lit(1000L).as("auth"))
          .localCheckpoint(true)
        val hRaw = edges.join(scores.select(col("url").as("dst"), col("auth")), Seq("dst"))
          .groupBy(col("src").as("url")).agg(sum(col("auth")).as("raw"))
        val tot = hRaw.agg(sum(col("raw")).as("tot"))
        nodes.join(hRaw, Seq("url"), "left").crossJoin(broadcast(tot))
          .select(col("url"), when(col("tot").isNull || col("tot") === 0L, lit(0L))
            .otherwise(expr("(coalesce(raw, 0L) * 100000000L) div tot")).as("hub"))
      case "web_crawl_depth_round" =>
        val edges = anchors().distinct().localCheckpoint(true)
        val seeds = WebGraph.syntheticSeeds(docs, 29)
          .select(col("url"), lit(0).as("depth")).localCheckpoint(true)
        edges.join(seeds.select(col("url").as("src")), Seq("src"))
          .select(col("dst").as("url")).distinct()
          .join(seeds.select("url"), Seq("url"), "left_anti")
          .select(col("url"), lit(1).as("depth"))
      case "dedup_winnow_stage1" => graft.ops.Winnow.fingerprints(docs)
      case "dedup_repeat_spectrum_round" =>
        val p0 = docs
          .select(col("doc_id").cast("long").as("doc_id"), posexplode(split(col("text"), "")))
          .filter(length(col("col")) === 1)
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            (col("doc_id") * (1L << 20) + col("pos")).as("packed"), col("col").as("chr"))
          .withColumn("r", min(col("packed")).over(Window.partitionBy(col("chr"))))
          .drop("chr").localCheckpoint(true)
        val shifted = p0.select(col("doc_id"), (col("pos") - 1L).as("pos"), col("r").as("r2"))
        p0.join(shifted, Seq("doc_id", "pos"), "left")
          .withColumn("r2", coalesce(col("r2"), lit(-1L)))
          .withColumn("r", min(col("packed")).over(Window.partitionBy(col("r"), col("r2"))))
          .select(col("doc_id"), col("pos"), col("packed"), col("r"))
      case q => SparkEntry.queries.getOrElse(q,
        throw new NoSuchElementException(s"unknown query or plan $q"))(spark, sfDir)
    }
  }

  /** The operators whose size gates the sf0.1 bench never crosses, run
    * above those gates (~24x the sf0.1 edge count) and checked against
    * independent references or partitioning invariance. The bench
    * corpus sits under stronglyConnected's driver-solve gate, so this is
    * where the distributed FW-BW path runs. */
  private def stress(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    import spark.implicits._
    val n = num(args, 0, 120000L)
    val checks = mutable.ArrayBuffer.empty[Obj]
    val failed = mutable.ArrayBuffer.empty[String]
    def check(name: String)(ok: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val pass = ok
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stress] $name%-42s ${if (pass) "PASS" else "FAIL"} ($dt%.1f s)")
      checks += Obj("name" -> name, "pass" -> pass, "sec" -> dt)
      if (!pass) failed += name
    }

    // ---- corpus: the web_scc edge shape at ~24x the sf0.1 edge count
    val docs = spark.range(0L, n, 1L, 32)
      .select(col("id").as("doc_id"),
        concat(lit("stress doc "), col("id").cast("string")).as("text"))
    val edges = WebGraph.extractAnchors(WebGraph.syntheticWeb(docs, n))
    val ids = edges.select(
        regexp_extract(col("src"), "doc([0-9]+)$", 1).cast("long").as("src_id"),
        regexp_extract(col("dst"), "doc([0-9]+)$", 1).cast("long").as("dst_id"))
      .where((col("src_id") + col("dst_id")) % 3 =!= 0)
      .localCheckpoint(false)
    val nEdges = ids.count()
    require(nEdges > 200000L,
      s"stress graph has $nEdges edges; it must exceed the SCC driver gate (200000) " +
        "to exercise the distributed path")

    // ---- SCC: distributed FW-BW trim+coloring (gate=0 forbids the
    // driver finish entirely) vs the upfront driver Kosaraju (gate=max)
    // — two INDEPENDENT algorithms must agree exactly at a size the
    // bench never reaches.
    def sccSet(gate: Long) =
      WebGraph.stronglyConnected(ids, driverEdgeGate = gate)
        .as[(Long, Long, Long)].collect().toSet
    check("scc distributed == driver Kosaraju") {
      val distributed = sccSet(0L)
      distributed == sccSet(Long.MaxValue) && distributed.nonEmpty
    }

    // ---- BFS depth: the barrier-free lazy chain vs a driver BFS
    val seeds = docs.filter(col("doc_id") < 10)
      .select(concat(lit("https://host"), (col("doc_id") % 13).cast("string"),
        lit(".example/doc"), col("doc_id").cast("string")).as("url"))
    check("crawlDepth == driver BFS") {
      val got = WebGraph.crawlDepth(
          edges.select(col("src"), col("dst")), seeds, maxDepth = 10)
        .as[(String, Int)].collect().toMap
      val es = edges.select(col("src"), col("dst"))
        .as[(String, String)].collect()
      val adj = es.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
      val s0 = seeds.as[String].collect()
      val dist = mutable.Map[String, Int]()
      var frontier = s0.toSet
      frontier.foreach(u => dist(u) = 0)
      var d = 0
      while (d < 10 && frontier.nonEmpty) {
        d += 1
        val next = frontier.iterator
          .flatMap(u => adj.getOrElse(u, Array.empty[String]))
          .filterNot(dist.contains).toSet
        next.foreach(u => dist(u) = d)
        frontier = next
      }
      got == dist.toMap
    }

    // ---- integer fixed points + peeling: bit-exact partitioning
    // invariance at stress size (the sparse-HITS and batched-kCore
    // rewrites must not introduce any order dependence)
    def inv(name: String)(f: DataFrame => DataFrame): Unit =
      check(s"$name partition-invariant") {
        val a = f(ids.repartition(3)).collect().map(_.toString).sorted
        val b = f(ids.repartition(29)).collect().map(_.toString).sorted
        a.sameElements(b) && a.nonEmpty
      }
    def urls(e: DataFrame) = e.select(col("src_id").cast("string").as("src"),
      col("dst_id").cast("string").as("dst"))
    inv("hitsInt")(e => WebGraph.hitsInt(urls(e), iterations = 3))
    inv("pageRankInt")(e => WebGraph.pageRankInt(urls(e), iterations = 3))
    val rankSeeds = spark.range(0L, n, 17L).select(col("id").cast("string").as("url"))
    inv("pageRankSeeded")(e => WebGraph.pageRankSeeded(urls(e), rankSeeds, iterations = 3))
    inv("spamMass")(e => WebGraph.spamMass(urls(e), rankSeeds, iterations = 3))
    inv("kCore")(e => WebGraph.kCore(urls(e), k = 3))
    lazy val core = WebGraph.kCore(urls(ids), k = 3).as[(String, Long)].collect().toMap
    check("kCore core_deg >= k")(core.nonEmpty && core.values.min >= 3L)
    check("kCore == driver peeling") {
      core == peel(urls(ids).as[(String, String)].collect(), k = 3)
    }

    // ---- star contraction (gate=0) vs the driver union-find (gate=max)
    check("components distributed == driver union-find") {
      val pairs = ids.select(col("src_id").as("a_id"), col("dst_id").as("b_id"))
      def comps(gate: Long) = graft.ops.Dedup.components(pairs, driverSolveMaxEdges = gate)
        .as[(Long, Long)].collect().toSet
      val distributed = comps(0L)
      distributed == comps(Long.MaxValue) && distributed.nonEmpty
    }

    // ---- suffix ranking at 4x the sf0.1 corpus (the radix-4 chain +
    // round-0 checkpoint): partitioning invariance of the census
    val textDocs = spark.range(0L, 20000L, 1L, 32)
      .select(col("id").as("doc_id"),
        concat(lit("abra cadabra stress "),
          (col("id") % 97).cast("string"), lit(" tail tail tail")).as("text"))
    check("repeatSpectrum partition-invariant") {
      val a = graft.ops.SuffixRank.repeatSpectrum(textDocs.repartition(2), 6)
        .collect().map(_.toString).sorted
      val b = graft.ops.SuffixRank.repeatSpectrum(textDocs.repartition(31), 6)
        .collect().map(_.toString).sorted
      a.sameElements(b) && a.length == 7
    }
    spark.catalog.clearCache()

    // ---- banding dedup at 4x docs: invariance of the capped pipeline.
    // The 97-distinct-text corpus produces ~2M duplicate pairs (a
    // deliberate mega-cluster stress) — compare an order-independent
    // in-Spark fingerprint, never collect the pair set to the driver.
    check("simhashNearDups partition-invariant") {
      def fp(parts: Int): (Long, Long) =
        graft.ops.Dedup.simhashNearDups(textDocs.repartition(parts), maxDist = 8)
          .agg(count(lit(1)),
            coalesce(bit_xor(xxhash64(col("a_id"), col("b_id"), col("hamming"))), lit(0L)))
          .as[(Long, Long)].collect()(0)
      val a = fp(2)
      val b = fp(31)
      a == b && a._1 > 0L
    }
    Seq("n_docs" -> n, "n_edges" -> nEdges, "checks" -> checks.toSeq) ++
      (if (failed.isEmpty) Nil else Seq("failed" -> failed.toSeq))
  }

  /** The k-core by sequential queue peeling of the undirected simple
    * graph: node -> degree inside the core. A formulation independent
    * of kCore's synchronous rounds. */
  private def peel(edges: Array[(String, String)], k: Int): Map[String, Long] = {
    val adj = edges.filter(e => e._1 != e._2).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
    val deg = mutable.HashMap.from(adj.map { case (v, ns) => v -> ns.size })
    val queue = mutable.Queue.from(deg.collect { case (v, d) if d < k => v })
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (deg.remove(v).isDefined) for (u <- adj(v) if deg.contains(u)) {
        deg(u) -= 1
        if (deg(u) == k - 1) queue += u
      }
    }
    deg.map { case (v, d) => v -> d.toLong }.toMap
  }

  /** The Check: note of every plan `plans` writes by default: what the
    * plan must show, and why. */
  private val planNotes: Seq[(String, String)] = Seq(
    "extract" ->
      ("Check: ReadSchema lists only url+html; NO Exchange anywhere: the table's " +
       "manifest bounds every payload at or below heavyThresholdBytes, so extract plans " +
       "the normal tier alone (an input without that bound adds a heavy tier through one " +
       "hash Exchange on __salt). The MapPartitions runs ExtractPartitions(markdown=true, " +
       "html=true): this plan reads every column, so both flags stay on; a plan that drops " +
       "markdown or html shows that flag false (ExtractJob.PruneOutputs)."),
    "q2_join_broadcast" ->
      "Check: BroadcastHashJoin with BuildRight on customer (dim side), no SortMergeJoin.",
    "q3_antijoin" ->
      "Check: BroadcastHashJoin LeftAnti.",
    "dedup_minhash_lsh" ->
      ("Check: ONE signature MapPartitions (7) inside a persisted InMemoryRelation — " +
       "every consumer reads InMemoryTableScan, so signatures are computed once from " +
       "the raw text (round 1 recomputed them 4x). There is NO FORCED broadcast() of " +
       "the signature table anymore (round-1 scale-killer): the re-join is hint-free, " +
       "so the BroadcastExchanges below are the optimizer's size-based choice at " +
       "sf0.01 (sig ≈ 250 KB) and flip to shuffle joins when the table outgrows " +
       "spark.sql.autoBroadcastJoinThreshold at corpus scale."),
    "dedup_embedding" ->
      ("Check: no driver collect / no full-table broadcast; bucket equi-join on " +
       "(table, sig) with a window cap, then id-keyed joins feed the exact-cosine " +
       "MapPartitions kernel."),
    "dedup_jaccard" ->
      ("Check: candidate generation joins only the per-doc PREFIX tokens (rarest " +
       "p = sz - ceil(t*sz) + 1) inside (lang, source) blocks, and the join " +
       "condition carries the PPJoin length filter (t <= min(sz)/max(sz)) and " +
       "positional filter (prefix-match position bounds the residual overlap " +
       "against alpha = ceil(t/(1+t)*(sz_a+sz_b))) — both prune INSIDE the join, " +
       "before the distinct, which is where hot-vocabulary corpora blow up. " +
       "Exact verify is an array_intersect over the small candidate set, not a " +
       "full token join."),
    "ann_bruteforce" ->
      ("Check: corpus side is one MapPartitions (no crossJoin Exchange of the corpus); " +
       "only the per-partition top-k candidates shuffle into the window."),
    "ann_ivf" ->
      ("Check: corpus side is ONE MapPartitions (take-1 cell assignment) that " +
       "never shuffles — the join key arrives with the row; the tiny probe side " +
       "(queries x nProbe cells) is the only BroadcastExchange; exact-cosine " +
       "re-rank happens inside the cell equi-join's output, and only " +
       "(query_id, neighbor_id, cos) triples reach the window Exchange."),
    "extract_dedup_job" ->
      ("Check: exactly ONE Exchange (the explicit hashpartitioning on the 8-byte " +
       "xxhash64 route key — NOT on the payload bytes) below one in-partition " +
       "Sort(hash, html, url), feeding a single SerializeFromObject/MapPartitions " +
       "pair; no Window, no Join, no second Exchange — the group-adjacent pass " +
       "extracts once per distinct payload and fans out inline."),
    "q7_sessionize" ->
      ("Check: ONE hash Exchange on user_id feeds a single sort; both window " +
       "passes (lag boundary flag, running-sum session index) and the final " +
       "partial-aggregated groupBy reuse that partitioning — no second " +
       "shuffle of the events."),
    "dedup_embedding_exact" ->
      ("Check: NO BroadcastNestedLoopJoin / CartesianProduct anywhere (the round-2 " +
       "exact row broadcast the whole corpus). Candidate generation is a plain " +
       "equi-join on the pivot-0 bucket (probe side explodes to b-1/b/b+1); the " +
       "remaining pivots prune as post-join predicates; the exact-cosine " +
       "MapPartitions kernel decides survivors. Lossless by the triangle " +
       "inequality, so the oracle is unchanged."),
    "text_decontaminate" ->
      ("Check: corpus side is ONE MapPartitions (fused tokenize+gram+bloom-probe " +
       "kernel) — no array materialization/explode of all grams; the verify join " +
       "is a BroadcastHashJoin on the small benchmark gram set. The bloom only " +
       "bounds what reaches the join; membership is verified exactly."),
    "dedup_survivors" ->
      ("Final assembly plan only: the large-star/small-star contraction rounds " +
       "run eagerly (each round localCheckpoint-ed so plans stay constant-size; " +
       "O(log n) rounds regardless of graph diameter — see Dedup.components; " +
       "graphs under the explicit size gate short-circuit to a driver " +
       "union-find). Check: docs LEFT JOIN the converged label table, " +
       "coalesce to self for singletons."),
    "dedup_simhash_capped" ->
      ("AUDIT query, quadratic BY DESIGN: the brute arm cross-joins " +
       "DISTINCT simhash values (bounded input, doc_id<1000) to produce " +
       "ground truth, then left-joins the capped pipeline's observed " +
       "pairs. Check: the only nested-loop join is the deliberate " +
       "distinct-values brute arm; the capped arm stays the banded " +
       "equi-join family. Not a production shape — the production path " +
       "is dedup_simhash_near."),
    "corpus_training_set" ->
      ("Final assembly plan only: the per-doc signal arms (survivors, quality, " +
       "lang, contamination) are localCheckpoint-ed EAGERLY before this plan — " +
       "load-bearing, because letting PushDownPredicate substitute the quality " +
       "/ lang_pred filters through the signal projections re-inlines langId's " +
       "argmax CASE per branch where codegen subexpression elimination cannot " +
       "reach (measured 35x: 0.49 s -> 17.3 s on the lang arm at sf0.1). " +
       "Check: corpus scan prunes to (doc_id, text); all three inner arms join " +
       "as BroadcastHashJoin over Scan ExistingRDD (the checkpointed id tables); " +
       "the contamination arm is the LeftAnti."),
    "corpus_host_cap" ->
      ("Check: quality is computed IN THE SCAN PROJECTION (withQuality — no " +
       "self-join, one corpus pass); ONE hash Exchange on source feeds the " +
       "row_number window; and the rn <= k filter turns into WindowGroupLimit " +
       "on BOTH sides of the Exchange — the map-side one prunes every host to " +
       "its local top-k BEFORE the shuffle, so at crawl scale the exchange " +
       "moves O(hosts x k) rows, not the corpus."),
    "corpus_budget_sample" ->
      ("Check: token count and the masked Knuth key are computed IN THE SCAN " +
       "PROJECTION (no tokenStats self-join, one corpus pass); ONE hash " +
       "Exchange on (lang, source) feeds a single in-partition sort by " +
       "(key, doc_id) and the running-sum window; no second shuffle. The " +
       "sample order is the deterministic multiplicative hash — " +
       "partitioning-independent, oracle-replicable — never rand()."),
    "corpus_crawl_delta" ->
      ("Check: ONE join (SortMergeJoin FullOuter on url at this size — " +
       "flips to per-bucket zero-shuffle when both snapshots use the bucketed " +
       "sink layout); each side reduces to (url, fp) IN THE SCAN STAGE, so " +
       "only 8-byte-ish fingerprint rows reach the exchange, never payloads."),
    "extract_incremental" ->
      ("Check: the delta arm computes xxhash64(html) inside the scan " +
       "projection (payload bytes never cross the worklist join); the " +
       "worklist filter (added/changed) sits below the join back to the " +
       "current snapshot; exactly one extraction MapPartitions, fed only by " +
       "worklist rows."),
    "corpus_length_profile" ->
      ("Check: ONE hash Exchange on source; row_number and the " +
       "per-partition count run as one Window pass over the same sort; the " +
       "final HashAggregate reuses the partitioning (no second Exchange). " +
       "Exact quantiles with no global sort and no sketch."),
    "corpus_vocab" ->
      ("Check: partial_count below the single Exchange (map-side combine " +
       "collapses the token stream to distinct-token partials per partition); " +
       "TakeOrderedAndProject — not a global Sort — implements the " +
       "deterministic (cnt desc, token asc) top-n."),
    "dedup_lines" ->
      ("Check: the line explode (Generate) runs inside the scan stage — " +
       "no shuffle to materialize lines; the frequency pass is the only " +
       "heavy exchange (two-phase distinct on (key, doc_id) then " +
       "partial-aggregated count per key); the thresholded boilerplate " +
       "set re-joins as a BroadcastHashJoin (it is small by definition); " +
       "re-assembly is ONE hash exchange on doc_id with per-key state " +
       "bounded by the document's own line count (array_sort on " +
       "collected (idx, line), not a sort exchange)."),
    "web_anchor_text" ->
      ("Check: anchor texts are BOUNDED before aggregation — the plan " +
       "shows distinct (url, anchor) then a WindowGroupLimit/rank filter " +
       "at rn<=8 feeding the collect, so per-key state is capped even for " +
       "a page with 10^7 in-links; counts run partial_count/partial " +
       "two-phase distinct below their Exchange; every Exchange hashes on " +
       "url/dst (co-located when the edge table is bucketed by dst)."),
    "web_robots" ->
      ("Check: ONE equi-join on host (broadcast here — the policy table " +
       "is tiny; shuffle-on-host with both sides bucketed at crawl " +
       "scale), frontier synthesis stays in the scan stage's codegen, " +
       "and parse+match is a single MapPartitions with a per-partition " +
       "exact-text policy cache; no other Exchange."),
    "web_crawl_schedule" ->
      ("Check: the composed pipeline (robots gate → priority rank → " +
       "delay spacing) carries ONE window exchange on host; the robots " +
       "and delay tables both join as broadcasts (tiny policy side); " +
       "rank is per-host row_number — no global sort anywhere; frontier " +
       "synthesis and the gate's MapPartitions stay in the scan stage."),
    "web_links" ->
      ("Check: NO Exchange anywhere — the synthetic-web construction is " +
       "pure projection (concat stays in the scan stage's codegen) and the " +
       "anchor scanner is one MapPartitions over it; edge rows leave the " +
       "stage ready to be written bucketed by src."),
    "web_pagerank_round" ->
      ("Check: one round of the rank kernel that runs PageRank, TrustRank " +
       "and spam mass (one global chain here; spam mass adds its seeded " +
       "chain as a second sum in the SAME aggregate, not a second round). " +
       "Contribution aggregation runs partial_sum BELOW the single " +
       "hash Exchange on url (map-side combine — the per-iteration shuffle " +
       "moves O(distinct dst per partition), not O(edges)); the src-side " +
       "joins are plain equi-joins over the checkpointed edge/outdeg/rank " +
       "tables (broadcast at this size, sort-merge co-located when edges+ " +
       "ranks are bucketed by src at corpus scale); NO cartesian anywhere. " +
       "The loop localCheckpoints each round, so lineage stays " +
       "constant-size over any iteration count."),
    "web_canonical_map" ->
      ("Check: the redirect resolution (pointer doubling) is checkpointed " +
       "away, leaving exactly two left equi-joins keyed on url — meta⋈" +
       "resolved then terminal⋈meta — with no cartesian and nothing " +
       "page-sized broadcast (the broadcasts below are size-based at " +
       "sf0.01 and flip to shuffle joins at corpus scale); both joins key " +
       "on the same url domain, so a url-bucketed meta table co-locates " +
       "the second join with the first."),
    "web_host_profile" ->
      ("Check: per-page scalars (host, token count, length, md5) are " +
       "computed inside the scan stage's codegen; the count(DISTINCT fp) " +
       "plans as a two-level aggregate with partial aggregation below " +
       "BOTH exchanges — the first moves one row per distinct (host, " +
       "fingerprint) (the dedup-compressed page set, never raw pages), " +
       "the second one row per host."),
    "dedup_ngram_spans" ->
      ("Check: the occurrence census is a groupBy on the 8-byte " +
       "fingerprint with partial_count BELOW its Exchange (a universal " +
       "boilerplate gram collapses to one row per map task — the reason " +
       "this is NOT a window count, which would pin the hot gram into " +
       "one unsplittable reducer); the dup filter joins back on the " +
       "fingerprint as a plain equi-join (AQE skew-splittable); ONE " +
       "Exchange on doc_id is SHARED by the lag-window and the final " +
       "aggregate; only (doc_id, pos, fingerprint) triples ever shuffle."),
    "web_bm25" ->
      ("Check: the postings/df aggregates are partial-aggregated " +
       "shuffles on (term[, doc]); the query table reaches df and then " +
       "the postings via BroadcastHashJoin (forced — queries are tiny by " +
       "contract, the corpus side NEVER broadcasts); the final rank<=k " +
       "filter plans as WindowGroupLimit with a Partial mode BELOW the " +
       "per-query Exchange, so each map task prunes to its local top-k " +
       "before shuffling."),
    "web_hits_round" ->
      ("Check: same per-round shape as PageRank (partial_sum below one " +
       "hash Exchange on the score key), plus the L1 renorm: the 1-row " +
       "sum arrives via BroadcastExchange + BroadcastNestedLoopJoin — a " +
       "1-row broadcast is the ONLY acceptable BNLJ shape, it never " +
       "scales with the graph. Loop localCheckpoints per round."),
    "web_crawl_depth_round" ->
      ("Check: the round joins the edge table against the FRONTIER " +
       "ONLY (equi-join on src — broadcast while the frontier is " +
       "small, shuffle when it isn't; co-located if edges are " +
       "bucketed by src at corpus scale), anti-joins the visited set " +
       "as a plain LeftAnti equi-join (Catalyst even pushes it BELOW " +
       "the rim dedup, discarding already-visited dsts before the " +
       "aggregate), and dedups the rim with a partial-aggregated " +
       "distinct (partial below its Exchange). NO cartesian, nothing " +
       "proportional to |V|x|E|; round cost tracks the newly " +
       "discovered rim. There is no per-level barrier: the loop chains " +
       "all maxDepth levels, and a level after an empty frontier is an " +
       "empty frame that AQE skips."),
    "web_reciprocity" ->
      ("Check: the reciprocated set is a LeftSemi equi-join on the FULL " +
       "composite (src, dst) key — both sides shuffle on the same key " +
       "(co-located when edges are bucketed on it; AQE-splittable because " +
       "the key is the whole edge, not a hub vertex); both host rollups " +
       "run partial_count BELOW their Exchange; the final host join is a " +
       "13-row broadcast. NO cartesian."),
    "text_keywords" ->
      ("Check: postings and df are partial-aggregated term-keyed " +
       "shuffles; the score join is a term equi-join (co-partitioned " +
       "at corpus scale, size-based broadcast here); the per-doc top-k " +
       "plans as WindowGroupLimit with a Partial mode BELOW the doc_id " +
       "Exchange — each map task prunes to k rows per doc before " +
       "shuffling. No cartesian, no full-dictionary broadcast."),
    "web_phrase_search" ->
      ("Check: the positional-postings side (posexplode inside codegen " +
       "over the pruned scan) reaches the query terms via " +
       "BroadcastHashJoin (forced — queries tiny by contract), so the " +
       "corpus NEVER shuffles unmatched postings: the first Exchange " +
       "carries only anchor votes on (query_id, doc_id, anchor); the " +
       "countDistinct(idx) is the standard two-level aggregate; qlen " +
       "arrives as a second tiny broadcast. NO corpus-side shuffle " +
       "before the match filter, NO cartesian."),
    "corpus_crawl_budget" ->
      ("Check: one partial-aggregated host rollup; W and R are 1-row " +
       "driver scalars (never data); the top-R remainder pick plans " +
       "as TakeOrderedAndProject feeding a small broadcast left join " +
       "— NOT a partitionless window over all hosts."),
    "web_host_overlap" ->
      ("Check: per-page signature lanes fold by ONE partial-aggregated " +
       "groupBy(host, lane) — at most |hosts|*k rows shuffle (the " +
       "mergeable-sketch property: min of a union = min of mins); the " +
       "pair stage is an equi-join on (lane, value), so hosts meet " +
       "ONLY where a lane value coincides — LSH-style, never " +
       "all-pairs; no page pair is ever compared."),
    "corpus_term_sketch" ->
      ("Check: the sketch build is ONE aggregation on (row, col) with " +
       "partial_count below its Exchange — at most d*2^p rows move per " +
       "map task regardless of corpus size (mergeable sketch state); " +
       "the exact top-k audit arm plans as TakeOrderedAndProject (each " +
       "map task keeps k rows — NOT a partitionless window, which " +
       "would single-reducer the whole term dictionary); the estimate " +
       "join probes the checkpointed 1024-row sketch by broadcast."),
    "corpus_url_cardinality" ->
      ("Check: one per-row hash MapPartitions feeds a register " +
       "aggregate whose partial max sits BELOW its Exchange — the " +
       "shuffle moves at most 256 rows per map task REGARDLESS of " +
       "input size (the whole point vs count-distinct, whose shuffle " +
       "grows with the answer); the final fold is a single bounded " +
       "256-row reduce; the exact_distinct audit arm is the only " +
       "answer-sized aggregate and rides a separate branch."),
    "corpus_snapshot_collapse" ->
      ("Check: ONE url-keyed aggregation path — count/min/max and the " +
       "packed latest-fetch max all partial-aggregate BELOW their " +
       "Exchange; the count(DISTINCT fp) plans as the standard " +
       "two-level shape (one row per distinct (url, fp) shuffles, " +
       "never the raw fetch log); NO window, NO join. The md5-STRING " +
       "fp (oracle parity) makes the max buffer non-fixed-width, so " +
       "this instance is SortAggregate; the same shape with the " +
       "production NUMERIC fp (xxhash64) verifies as HashAggregate " +
       "end to end. A window row_number for latest-fetch would add a " +
       "second shuffle and pin hot urls into one reducer."),
    "corpus_chunks" ->
      ("Check: split / chunk-count arithmetic / sequence+explode / " +
       "slice / array_join are ALL built-in expressions inside one " +
       "WholeStageCodegen span over the pruned scan (ReadSchema: " +
       "doc_id, text) — ZERO Exchange, no UDF; the explode fan-out " +
       "(~n_tokens/stride rows per doc) shards embarrassingly."),
    "corpus_merge_upsert" ->
      ("Check: the change BATCH alone pays one hash-aggregated " +
       "collapse shuffle (packed-string max buffer — SortAggregate " +
       "for the same non-fixed-width reason as snapshot collapse, " +
       "partials below the Exchange so hot-url duplicate changes " +
       "combine map-side), then ONE full-outer sort-merge join on " +
       "url; the action CASE and the kept/updated projection are " +
       "plain codegen above it. No window over the base, no driver " +
       "state, no second pass. At 10^12 rows the base side is the " +
       "bucketed-by-url-hash layout ExtractJob writes, so the join " +
       "degenerates to a bucket-local merge (Iceberg MERGE INTO's " +
       "copy-on-write shape) and only the day's change batch moves."),
    "corpus_shard_assign" ->
      ("Check: the assign pass of GlobalRank.positions is Scan " +
       "ExistingRDD (the checkpointed range layout) -> Deserialize -> " +
       "MapPartitions -> Serialize, then the shard Project — ZERO " +
       "Exchange: the one range shuffle happened before the " +
       "checkpoint, the offset pass collected only P partition counts, " +
       "and positions are assigned partition-locally from broadcast " +
       "prefix offsets (the zipWithIndex pattern). A row_number() OVER " +
       "(ORDER BY ...) here would be a partitionless window moving the " +
       "corpus through one task — that is exactly what this operator " +
       "exists to avoid at 10^12 rows."),
    "dedup_incremental_lsh" ->
      ("Check: the base side enters as Scan ExistingRDD (the persisted " +
       "signature table — NO shingling/text scan of the base anywhere " +
       "in the plan); base and delta bands meet in one Union under the " +
       "bucket cap's Window on (band, bh) — the dedup_minhash_lsh shape " +
       "(Dedup.bucketPairs) — and only delta rows probe the kept " +
       "buckets. At 10^12 docs a base-only bucket (the overwhelming " +
       "majority) costs its count and never reaches the pair join — " +
       "per-increment pair work is delta-proportional."),
    "corpus_bloom_decontaminate" ->
      ("Check: the corpus pays ONE DeserializeToObject -> MapPartitions " +
       "kernel pass (tokenize + slide + probe the broadcast bitmap " +
       "inline); the audit join carries only bloom-positive grams into " +
       "a BroadcastHashJoin; the bitmap build is a 128-row bit_or " +
       "rollup. Nothing benchmark-sized ever ships to executors — " +
       "only the 1 KB bitmap."),
    "dedup_winnow_stage1" ->
      ("Check: ONE hash Exchange on doc_id feeds BOTH window passes " +
       "(forward-frame min + per-doc max: two Window nodes with zero " +
       "extra Exchange or Sort between them); selection is a plain " +
       "long `min` window frame (the packed key avoids a struct " +
       "buffer, which would force extra sorts)."),
    "dedup_winnow" ->
      ("Check: the pair stage starts from the CHECKPOINTED selection " +
       "(Scan ExistingRDD — stage 1 runs once, not per consumer) and " +
       "joins fingerprints only AFTER the df-cap semi-join, so " +
       "corpus-wide boilerplate grams never reach the self-join."),
    "text_collocations" ->
      ("Check: bigram and unigram counts are partial-aggregated " +
       "HashAggregates (combine below their Exchange); the two " +
       "vocabulary joins and the 1-row N scalar are BroadcastHashJoin / " +
       "BroadcastNestedLoopJoin over broadcast(tiny); the top-k is " +
       "TakeOrderedAndProject (per-task k-row heaps), never a global " +
       "Sort. The ranking comparator is one IEEE division of two " +
       "exactly-representable longs — no transcendental in the plan."),
    "text_normalize" ->
      ("Check: a single DeserializeToObject -> MapPartitions -> " +
       "SerializeFromObject pipeline directly over the pruned scan " +
       "(ReadSchema: doc_id, text) — per-row kernel, ZERO Exchange; " +
       "shards embarrassingly at any scale."),
    "q12_asof" ->
      ("Check: ONE Exchange hashpartitioning(user_id) feeding a single " +
       "Window (the last-match carry) and a Filter on the query type — " +
       "no join operator anywhere, the match side is never duplicated. " +
       "At 10^12 events this is the as-of plan you want: no range " +
       "bucketing, no SortMergeJoin, per-user state is the running frame."),
    "q13_overlap" ->
      ("Check: NO inequality join anywhere — the pairwise overlap is " +
       "rank arithmetic. The two countBelow sweeps are range Exchanges " +
       "materialized by localCheckpoint (they appear as Scan " +
       "ExistingRDD here); the visible plan is only the two equi-joins " +
       "stitching the sweep outputs back to the session table (" +
       "SortMergeJoin on the unique session id). The quadratic join " +
       "lives ONLY in the DuckDB oracle."),
    "web_triangles" ->
      ("Check: every join is an equi-join (ShuffledHashJoin/SortMerge " +
       "on u resp. (w1,w2)) — no BroadcastNestedLoop, no inequality " +
       "join; the degree-orientation means the wedge self-join's " +
       "left/right build sides are O(sqrt(m)) per key, so no hub ever " +
       "builds a quadratic neighborhood. Final per-node count is a " +
       "partial-aggregated HashAggregate below its Exchange."),
    "web_kcore" ->
      ("Check: the visible plan is the final degree count over the " +
       "checkpointed live edge set (Scan ExistingRDD — each peeling " +
       "round ended in localCheckpoint(true), so lineage is one round " +
       "deep, never rounds-deep). Per round the engine runs exactly one " +
       "partial-agg Exchange (degrees) and two LEFT SEMI joins; driver " +
       "traffic is one Long per round."),
    "web_hyperball" ->
      ("Check: the visible plan is the register fold (partial-agg " +
       "HashAggregate over the checkpointed round-3 register state — " +
       "Scan ExistingRDD) joined to the audit arm; per ROUND the engine " +
       "ran one edge-state equi-join + one (v, reg) partial-agg max, " +
       "state bounded at m rows/node regardless of ball size — the " +
       "whole point vs the closure, which only the ORACLE computes."),
    "corpus_pack" ->
      ("Check: the visible plan is GlobalRank.positions' assign pass " +
       "over the pinned range-partitioned layout (Scan ExistingRDD -> " +
       "MapPartitions — the weighted-zipWithIndex second pass), then " +
       "the interval Project; NO partitionless window, no join; the " +
       "single range Exchange happened inside the localCheckpoint. " +
       "Driver traffic is P per-partition token sums."),
    "corpus_interleave" ->
      ("Check: one hash Exchange on source for the per-source rank " +
       "window, then GlobalRank.positions' assign pass over the pinned " +
       "range layout (Scan ExistingRDD -> MapPartitions) — NO " +
       "partitionless window; integer virtual-time keys only."),
    "corpus_ngram_lm" ->
      ("Check: the pairing is zip_with over two slices of ONE tokens " +
       "array inside the projection (no posexplode self-join, no " +
       "window over token rows); then two partial-aggregated " +
       "HashAggregates — gram counts (map-side combine absorbs the " +
       "Zipf head) and the tiny count-of-counts key. ReadSchema is " +
       "text-only."),
    "dedup_repeat_spectrum_round" ->
      ("Check: the round body touches NO strings — both inputs are the " +
       "checkpointed integer rank table (Scan ExistingRDD); the partner " +
       "rank arrives via a plain (doc_id, pos) equi-join (size-based " +
       "broadcast at sf0.01; sort-merge, co-located when the position " +
       "table is bucketed on doc_id, at corpus scale) and the re-rank " +
       "is a Window partitioned by the " +
       "(r, r2) pair — never a partitionless dense_rank, which would " +
       "single-reducer the corpus. Characters shuffled exactly once, in " +
       "round 0; every later round moves only integer triples. " +
       "log2(window) rounds total, localCheckpoint per round."),
    "corpus_cdc_dedup" ->
      ("Check: the gear-hash chunker is ONE DeserializeToObject -> " +
       "MapPartitions kernel pass directly over the pruned scan " +
       "(ReadSchema: doc_id, text) — boundaries are per-row state, no " +
       "shuffle to find them; the census is a single fp-keyed " +
       "HashAggregate with partials BELOW its Exchange, so N snapshots " +
       "of the same page collapse map-side to one census row (the " +
       "count(DISTINCT doc_id) is the standard two-level shape). " +
       "Nothing quadratic, no driver state — snapshot-count-proof."),
    "multimodal_framehash" ->
      ("Check: the container parse + fingerprint is ONE MapPartitions " +
       "kernel — binary payloads never reach an Exchange; only the " +
       "(vid, idx, fp) scalar triples shuffle, once, into the fp-keyed " +
       "census HashAggregate (partials below the Exchange); the " +
       "share-count join is an equi-join on fp."),
    "text_mojibake" ->
      ("Check: one DeserializeToObject -> MapPartitions kernel over the " +
       "pruned scan — ZERO Exchange anywhere (per-row scalar repair); " +
       "the planted-variant projection folds into the same stage."),
    "corpus_importance" ->
      ("Check: the per-doc bucket-count kernel feeds ONE hash " +
       "aggregate; both bucket-total tables come back as " +
       "BroadcastHashJoin (B=256 rows — never a shuffle join); the " +
       "top-k is TakeOrderedAndProject (per-map-task heaps, no global " +
       "sort, no partitionless window). The count table is " +
       "localCheckpointed once (Scan ExistingRDD) so the text pass " +
       "runs exactly once for totals + scoring."),
    "corpus_fertility" ->
      ("Check: the learned unit table arrives as BroadcastHashJoin " +
       "(vocabulary-sized build side); the per-lang rollup is ONE " +
       "partial-aggregated HashAggregate pair around a single " +
       "Exchange on lang; both ratios are projected AFTER the " +
       "aggregate (divisions of exact longs, once per lang row)."),
    "multimodal_audio" ->
      ("Check: one DeserializeToObject -> MapPartitions kernel (the " +
       "WAV parse) directly over the synthesized range — ZERO " +
       "Exchange anywhere (per-clip scalars); silence_frac folds " +
       "into the same projection stage."),
    "corpus_quality_auc" ->
      ("Check: EXACTLY ONE parquet scan — the (source, quality) " +
       "projection is checkpointed (Scan ExistingRDD below every " +
       "consumer; the first plan ran the quality regexes 4x); the " +
       "Window runs over the bounded distinct-score aggregate; the " +
       "midrank map comes back as BroadcastHashJoin; per-source " +
       "rollup is checkpointed before the 1-row grand-total " +
       "BroadcastNestedLoopJoin."),
    "text_lang_confusion" ->
      ("Check: EXACTLY ONE parquet scan — the classifier projection " +
       "collapses through one partial-aggregated Exchange to " +
       "<=|langs|^2 cells which are CHECKPOINTED (two consumers: " +
       "cells + row totals; without the barrier the marker counting " +
       "ran twice); totals come back as BroadcastHashJoin."),
    "corpus_mix_anneal" ->
      ("Check: quality + both weight columns are computed in ONE " +
       "corpus pass feeding a single host rollup (Scan ExistingRDD " +
       "below both phases = the localCheckpoint); each Hamilton " +
       "phase is |hosts|-sized work — TakeOrderedAndProject for the " +
       "top-R remainders and a BroadcastHashJoin for the extras, " +
       "never a partitionless window over hosts."),
    "corpus_split_leakage" ->
      ("Check: the (doc_id, md5) projection is checkpointed (Scan " +
       "ExistingRDD below both consumers — without the barrier the " +
       "TEXT column was read and hashed twice); one Exchange on fp " +
       "builds clusters, the join back is broadcast, the final " +
       "per-split aggregate collapses to 3 rows."),
    "web_host_gini" ->
      ("Check: the global rank is GlobalRank.positions: its assign " +
       "pass is Scan ExistingRDD -> MapPartitions with no Exchange, " +
       "NEVER a single-partition Window. The checkpoint both passes " +
       "share holds the per-host rollup (one partial-aggregated " +
       "Exchange collapsed the corpus to |hosts| rows) and the range " +
       "partition; the final aggregate is one row."),
    "corpus_epoch_order" ->
      ("Check: the per-epoch rank is GlobalRank.positions grouped by " +
       "epoch; this plan is its assign pass, Scan ExistingRDD -> " +
       "MapPartitions with no Exchange, NEVER a partitionless Window. " +
       "The checkpoint both passes share holds the rest: the epoch " +
       "fan-out, a Generate (explode) over a 3-long projection with " +
       "the text column pruned before it; the keys, pure codegen long " +
       "arithmetic; and the only exchange, ONE rangepartitioning on " +
       "(epoch, key)."),
    "corpus_reshard_churn" ->
      ("Check: ReadSchema is doc_id alone; the rings never appear in " +
       "the plan (generated in-kernel from the closed-form vnode " +
       "hash — no broadcast, no join); the kernel's 2-rows-per-doc " +
       "output collapses through a partial-aggregated Exchange over " +
       "<= 2*nNew census keys to the 2-row final aggregate."),
    "corpus_hard_negatives" ->
      ("Check: both sides come off ONE pivot-bucket kernel pass; the " +
       "small anchor side broadcasts (BroadcastHashJoin on the probe " +
       "bucket — with both sides large the same plan degrades to a " +
       "shuffle equi-join, never a corpus broadcast); the corpus " +
       "side explodes only probe KEYS; the band census + argmax is " +
       "one partial-aggregated Exchange over anchor ids."),
    "corpus_freshness_budget" ->
      ("Check: one partial-aggregated url collapse, one equi-join " +
       "back to the doc token projection, one host rollup; the decay " +
       "multiplier is codegen long arithmetic (shiftleft — no exp(), " +
       "no UDF); corpus-max-ts and Hamilton W/R are 1-row driver " +
       "scalars; top-R remainders plan as TakeOrderedAndProject + " +
       "broadcast semi-join, never a partitionless window."),
    "multimodal_exif" ->
      ("Check: one stateless per-row kernel inside the scan partition " +
       "— the binary payload never moves, only scalars come out; ZERO " +
       "Exchange in the plan (no shuffle at any width)."),
    "text_code_detect" ->
      ("Check: ONE scan-local codegen projection (regexp_count + " +
       "length deltas), no UDF, ZERO Exchange at any width."),
    "stream_late_events" ->
      ("Batch-side read of the streaming sink only (the stateful plan " +
       "itself is streaming-only): check the read-back is a plain " +
       "pruned parquet scan + filter, no shuffle."),
    "web_assortativity" ->
      ("Check: edge dedup feeds a localCheckpoint barrier (ids only); " +
       "the two degree rollups are partial-aggregated and join back " +
       "broadcast-sized; the final aggregate is ONE row; all-long " +
       "arithmetic, no division."),
    "corpus_epoch_allocation" ->
      ("Check: ONE partial-agg corpus rollup to |sources| rows feeds " +
       "a localCheckpoint barrier; the unpartitioned cumsum window " +
       "runs on the bounded |sources|*E grid only; budget is a 1-row " +
       "driver scalar; all-long arithmetic."),
    "web_sitemap_gap" ->
      ("Check: the sitemap parse is one flatMap kernel (xml stays in " +
       "its scan partition, only url scalars exit); ONE full-outer " +
       "url shuffle; one partial-agg host rollup; the 13-row host " +
       "meta side broadcasts."),
    "web_warc_records" ->
      ("Check: ONE stateless flatMap kernel over the shard scan — no " +
       "Exchange anywhere; only per-record scalars exit the partition."),
    "dedup_threshold_sweep" ->
      ("AUDIT query, quadratic BY DESIGN on the bounded universe " +
       "(doc_id < 800): the truth arm is the deliberate crossJoin; " +
       "the banding arm is the production minhashLsh pipeline " +
       "unchanged; truth pairs hit a localCheckpoint barrier before " +
       "the 5-way threshold explode."),
    "stream_dedup_ttl" ->
      ("Batch-side read of the streaming sink only (the stateful " +
       "plan is streaming-only): check a plain pruned parquet scan."),
    "text_ngram_novelty" ->
      ("Check: array_distinct runs INSIDE the row before explode — " +
       "the gram Exchange carries distinct (doc, gram) pairs only; " +
       "ONE partial-agg df rollup; the join back re-partitions on " +
       "gram (co-partitioned); one per-doc rollup."),
    "web_graph_reorder" ->
      ("Check: BFS rank = GlobalRank.positions (no " +
       "partitionless window anywhere in the engine plan); the id " +
       "map joins back as url equi-joins; per-ordering stats " +
       "collapse to ONE row each before the 2-row union."),
    "corpus_license_detect" ->
      ("Check: scan-local contains() ladder, ONE partial-agg rollup " +
       "to <= |sources|*6 cells."),
    "corpus_quality_drift" ->
      ("Check: each snapshot pass collapses to <= 10 bucket rows " +
       "BEFORE the full-outer join; totals/TV are driver scalars " +
       "over the checkpointed bucket table."),
    "text_date_extract" ->
      "Check: scan-local regex projection, zero Exchange.",
    "web_spam_mass" ->
      ("Check: PageRank and TrustRank run as two columns of ONE rank " +
       "pass (one node set, one outdeg table, one edge join and one " +
       "dst aggregate per round); the composition reads the last " +
       "checkpointed round with NO join, only codegen long " +
       "arithmetic; totals are driver scalars."),
    "dedup_cluster_stats" ->
      ("Check: two partial-agg rollups over the survivors output; " +
       "final table is O(log max-size) rows."),
    "events_anomaly_mad" ->
      ("Check: ONE partial-agg shuffle to the time-span-bounded hour " +
       "table; median/MAD are driver scalars over the checkpointed " +
       "bounded table — no corpus sort, no partitionless window."),
    "corpus_dataset_card" ->
      ("Check: ONE corpus scan feeds the checkpointed narrow " +
       "projection; every census arm reads the projection (no " +
       "re-scan); the source rollup collapses before its driver max."),
    "q14_cube" ->
      ("Check: ONE Expand node fans the four grouping sets into a " +
       "single partial-aggregated Exchange — no re-scan per set."),
    "corpus_instruction_detect" ->
      ("Check: scan-local regexp_count signals, ONE partial-agg " +
       "census to <= |sources|*5 cells."),
    "events_json_props" ->
      ("Check: codegen get_json_object (no UDF), ONE partial-agg " +
       "shuffle to |event_types| rows."),
    "corpus_token_compression" ->
      ("Check: scan-local token/piece/char signals, ONE partial-agg " +
       "rollup; ratios are codegen integer division."),
    "corpus_shuffle_adjacency" ->
      ("Check: adjacency is the (epoch, pos+1) equi-join over the " +
       "checkpointed order table — NO window partitioned only by " +
       "epoch; per-epoch rollup + the tiny baseline arm."),
    "corpus_ann_recall" ->
      ("Check: the brute-force truth is a localCheckpoint barrier " +
       "(nQ*k rows) so no arm re-runs it; each approximate pipeline " +
       "scans the corpus exactly once and joins the tiny truth side " +
       "(BroadcastHashJoin), collapsing to a 1-row partial aggregate " +
       "before the 5-row union; recall_permille is codegen long " +
       "arithmetic — no IEEE, no UDF."),
  )
}
