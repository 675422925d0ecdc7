package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.WebGraph
import graft.spark.{ExtractJob, PageRow, PagesGen}

/** One pass's output: the docs it handled. */
final case class Pass(docs: Long)

/** A workload generates its inputs from the seed (`build`, repeated during
  * set-up), then runs closed-loop passes: each pass is one batch job from
  * this process at local[nproc], and checks every output it produces. */
abstract class Workload {
  def name: String
  /** Operations one pass attempts (docs, or calls for web-graph). */
  def unitsPerPass: Long
  /** Warm passes before timing. Pass times keep falling while the JIT
    * compiles the hot paths, for longer where a pass plans many jobs. */
  def warmPasses: Int = 2
  def build(c: Ctx): Unit
  /** Computes, once after the last build, what every pass must output. */
  def expect(c: Ctx): Unit
  def pass(c: Ctx): Pass
  /** Untimed clean-up after each pass (and traced-only measurements). */
  def after(c: Ctx): Unit = ()
  /** Payloads the traced run replays layer by layer. */
  def sample: IndexedSeq[Array[Byte]] = IndexedSeq.empty
  /** Traced-only measurements after the loop. */
  def extra(c: Ctx, out: mutable.Map[String, Double]): Unit = ()

  protected def every(rows: Array[(String, Array[Byte])], k: Int): IndexedSeq[Array[Byte]] = {
    val step = math.max(1, rows.length / k)
    (0 until rows.length by step).take(k).map(i => rows(i)._2)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(new HeavyTail, new ResumeCommit)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private val BaseTs = 1735689600000L

  /** Row-level checks shared by every extraction workload; returns the
    * number of rows whose status is not `ok`. */
  def checkFold(c: Ctx, parts: Array[PartFold], n: Long, ref: (Long, Long), what: String): Long = {
    val rows = parts.map(_.n).sum
    c.check(rows == n, s"$what: $rows rows emitted for $n urls")
    c.check(parts.map(_.urlSum).sum == ref._1, s"$what: url multiset differs (a url missing or emitted twice)")
    c.check(parts.map(_.rowSum).sum == ref._2, s"$what: (url, text) fingerprint differs from the kernel reference")
    val errors = parts.map(_.errors).sum
    if (c.tracing) {
      val busy = parts.filter(_.n > 0).groupMapReduce(_.pid)(_.busyMs)(_ + _).values
      if (busy.nonEmpty) c.note("spark.partition_busy_spread", busy.max / (busy.sum / busy.size))
      notePercentiles(c, parts.flatMap(_.durations))
    }
    errors
  }

  def notePercentiles(c: Ctx, ms: Array[Float]): Unit = if (ms.nonEmpty) {
    val s = ms.sorted
    c.note("spark.extract.doc_ms_p50", s((s.length - 1) / 2).toDouble)
    c.note("spark.extract.doc_ms_p99", s(((s.length - 1) * 0.99).toInt).toDouble)
  }

  def foldRows(df: DataFrame, keepDurations: Boolean): Array[PartFold] = {
    import df.sparkSession.implicits._
    Fp.fold(df.select(col("url"), col("text"), col("status"), col("duration_ms"),
      col("partition_id")).as[FoldRow], keepDurations)
  }

  def collectPayloads(pages: DataFrame): Array[(String, Array[Byte])] = {
    import pages.sparkSession.implicits._
    pages.select(col("url"), col("html")).as[(String, Array[Byte])].collect()
  }

  /** Crawl segment whose clustered ~2% of ~50-page uncompressed PDFs carry
    * over half the bytes; salt routing sends exactly that tail through the
    * exchange, the rest is extracted scan-local into a folding sink. */
  final class HeavyTail extends Workload {
    val name = "heavy-tail"
    val nDocs = 6000L
    val nHeavy = 120L
    def unitsPerPass: Long = nDocs
    override val warmPasses = 6
    private var pages: DataFrame = _
    private var rows: Array[(String, Array[Byte])] = Array.empty
    private var ref = (0L, 0L)
    private var threshold = 0L
    private def cfg = ExtractJob.Config(salt = true, heavyThresholdBytes = threshold)

    def build(c: Ctx): Unit = {
      val spark = c.spark
      import spark.implicits._
      if (pages != null) pages.unpersist(true)
      val seed = c.seed
      val nh = nHeavy
      pages = spark.range(0, nDocs, 1, 4 * c.cores).mapPartitions { ids =>
        ids.map { id =>
          val ts = new Timestamp(BaseTs + id * 1000L)
          if (id < nh)
            PageRow(PagesGen.url(id, "pdf"), ts, PagesGen.longPdf(seed * 1000003L + id, 2000), "", "en")
          else {
            // the generator plants a 50x outlier at every 997th id; the
            // segment takes its neighbour instead, so only the planted
            // tail is above the threshold
            val (bytes, kind) = PagesGen.payload(if (id % 997 == 0) id + 1 else id, seed)
            PageRow(PagesGen.url(id, kind), ts, bytes, "", "en")
          }
        }
      }.toDF().cache()
      rows = collectPayloads(pages)
      val DocId = ".*/doc([0-9]+)\\.[a-z]+".r
      val (heavy, normal) = rows.partition { case (u, _) => u match {
        case DocId(id) => id.toLong < nHeavy
        case _         => false
      } }
      val minHeavy = heavy.map(_._2.length).min
      threshold = normal.map(_._2.length).max.toLong
      c.check(heavy.length == nHeavy && minHeavy > threshold,
        s"$name: heavy tail not separable by size ($minHeavy <= $threshold)")
      val hb = heavy.map(_._2.length.toLong).sum
      val share = hb.toDouble / (hb + normal.map(_._2.length.toLong).sum)
      c.check(share > 0.5, f"$name: heavy tail carries only $share%.2f of the bytes")
    }

    def expect(c: Ctx): Unit = ref = Fp.reference(rows)

    private def extractOnce(c: Ctx, input: DataFrame, what: String): Unit = {
      val parts = c.op("spark.extract")(foldRows(ExtractJob.extract(input, cfg).toDF(), c.tracing))
      c.passFailed += checkFold(c, parts, nDocs, ref, what)
    }

    def pass(c: Ctx): Pass = { extractOnce(c, pages, name); Pass(nDocs) }
    override def sample: IndexedSeq[Array[Byte]] = every(rows, 200)

    /** Scaling: the same parquet slice at local[nproc] and at local[1]. */
    override def extra(c: Ctx, out: mutable.Map[String, Double]): Unit = {
      val slice = c.path("slice")
      pages.write.mode("overwrite").parquet(slice)
      def timed(): Double = {
        val input = c.spark.read.parquet(slice)
        val t0 = System.nanoTime()
        extractOnce(c, input, s"$name scaling")
        (System.nanoTime() - t0) / 1e9
      }
      timed() // the first pass over parquet warms the scan path
      val tn = timed()
      c.spark = Main.restartSession(c, 1)
      timed()
      val t1 = timed()
      out("scaling.docs_per_s_n") = nDocs / tn
      out("scaling.docs_per_s_1") = nDocs / t1
      out("scaling.eff") = (nDocs / tn) / (c.cores * nDocs / t1)
    }
  }

  /** The checkpointed write path over an on-disk bucketed pages table:
    * first run over 3/4 of the urls, resume over all of them (extracts the
    * new 1/4), then a rerun with nothing pending; `readOutput` must then
    * hold each url exactly once. */
  final class ResumeCommit extends Workload {
    val name = "resume-commit"
    val nDocs = 2000L
    val nBuckets = 8
    def unitsPerPass: Long = nDocs
    /** About 20 s on a 4-core host. A pass runs some 40 short Spark jobs,
      * and its time falls steeply for about five passes while their
      * planning and commit paths compile. */
    override val warmPasses = 5
    private var rows: Array[(String, Array[Byte])] = Array.empty
    private var ref = (0L, 0L)
    private var nNew = 0L
    private var inBytes = 0L
    private var k = 0
    private def pagesPath(c: Ctx) = c.path("pages")
    private def passDir(c: Ctx) = c.path(s"commit-$k")
    private def isNew = pmod(xxhash64(col("url")), lit(4)) === 0

    def build(c: Ctx): Unit = {
      PagesGen.writeBucketed(PagesGen.generateMixed(c.spark, nDocs, c.seed, 4 * c.cores), pagesPath(c),
        nBuckets)
      val full = PagesGen.readBucketed(c.spark, pagesPath(c))
      nNew = full.filter(isNew).count()
      rows = collectPayloads(full)
      inBytes = rows.map(_._2.length.toLong).sum
      System.err.println(s"[perfbench] $name input: ${rows.length} docs, $nNew new, $inBytes bytes")
    }

    def expect(c: Ctx): Unit = ref = Fp.reference(rows)

    def pass(c: Ctx): Pass = {
      k += 1
      val out = s"${passDir(c)}/out"
      val ckpt = s"${passDir(c)}/checkpoint"
      val full = PagesGen.readBucketed(c.spark, pagesPath(c))
      val r1 = c.op("commit.first_run")(
        ExtractJob.runWithCheckpoint(c.spark, full.filter(!isNew), out, ckpt, "initial", nBuckets = nBuckets))
      val r2 = c.op("commit.resume_run")(
        ExtractJob.runWithCheckpoint(c.spark, full, out, ckpt, "resume", nBuckets = nBuckets))
      val r3 = c.op("commit.noop_rerun")(
        ExtractJob.runWithCheckpoint(c.spark, full, out, ckpt, "rerun", nBuckets = nBuckets))
      val parts = c.op("commit.read_output")(foldRows(
        ExtractJob.readOutput(c.spark, out).withColumn("partition_id", lit(-1)), keepDurations = false))
      c.check(r1.attempted == nDocs - nNew, s"$name: first run attempted ${r1.attempted}, expected ${nDocs - nNew}")
      c.check(r2.attempted == nNew, s"$name: resume attempted ${r2.attempted}, expected the $nNew new urls")
      c.check(r3.attempted == 0, s"$name: rerun with nothing pending attempted ${r3.attempted}")
      c.passFailed += r1.error + r2.error + checkFold(c, parts, nDocs, ref, s"$name readOutput")
      c.note("commit.resume_extracted_frac", r2.attempted.toDouble / nDocs)
      Pass(nDocs)
    }

    override def after(c: Ctx): Unit = {
      val dir = new java.io.File(passDir(c))
      if (c.tracing) {
        val ckpt = c.spark.read.parquet(s"${passDir(c)}/checkpoint")
          .select(col("attempt"), col("partition_id"), col("duration_ms")).collect()
        val busy = ckpt.groupMapReduce(r => (r.getString(0), r.getInt(1)))(_.getDouble(2))(_ + _).values
        c.note("spark.partition_busy_spread", busy.max / (busy.sum / busy.size))
        notePercentiles(c, ckpt.map(_.getDouble(2).toFloat))
        def files(sub: String): Seq[java.io.File] = Stats.files(new java.io.File(dir, sub))
        val outB = files("out").map(_.length).sum
        val ckB = files("checkpoint").map(_.length).sum
        c.note("commit.output_mb", outB / 1048576.0)
        c.note("commit.checkpoint_mb", ckB / 1048576.0)
        c.note("commit.files", (files("out") ++ files("checkpoint")).size.toDouble)
        c.note("commit.write_amp", (outB + ckB).toDouble / inBytes)
      }
      Stats.deleteTree(dir)
    }

    override def sample: IndexedSeq[Array[Byte]] = every(rows, 300)

    private val graph = new WebGraphOps

    override def extra(c: Ctx, out: mutable.Map[String, Double]): Unit = {
      val runs = Seq("first_run", "resume_run", "noop_rerun")
        .flatMap(r => c.noted.get(s"commit.$r.jobs")).map(Stats.median)
      if (runs.nonEmpty) out("commit.jobs_per_run") = runs.sum / runs.size
      // the downstream corpus operators: one cold pass, then two traced
      graph.build(c)
      graph.expect(c)
      val sc = c.spark.sparkContext
      sc.addSparkListener(c.probe)
      try for (i <- 0 until 3) {
        c.tracing = i > 0
        try if (c.tracing) c.tracer.span("graph")(graph.pass(c)) else graph.pass(c)
        finally c.tracing = false
      } finally sc.removeSparkListener(c.probe)
      c.noted.foreach { case (k, v) => if (k.startsWith("ops.")) out(k) = Stats.median(v) }
    }
  }

  /** Downstream web-graph operators over a synthetic web built from a
    * seeded (doc_id, text) table: anchors, then HITS and the 3-core of the
    * link graph. Iterative and barrier-bound; the extraction kernel does no
    * work here. Not a workload of its own: resume-commit's traced run
    * measures it layer by layer. */
  final class WebGraphOps extends Workload {
    val name = "web-graph"
    val nDocs = 2000L
    val unitsPerPass = 3L
    /** Each HITS iteration costs a fixed number of Spark jobs whatever the
      * graph size; two keep a warm pass near 5 s on a 4-core host. */
    val Iterations = 2
    private var docs: DataFrame = _
    private var expectEdges = 0L
    private var coreRef: Map[String, Long] = Map.empty
    private var hitsFp: Option[Long] = None

    def build(c: Ctx): Unit = {
      val spark = c.spark
      import spark.implicits._
      if (docs != null) docs.unpersist(true)
      val seed = c.seed
      docs = spark.range(0, nDocs, 1, c.cores).map { id =>
        val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + id)
        (id.longValue, PagesGen.sentence(rnd, 8 + rnd.nextInt(16)))
      }.toDF("doc_id", "text").cache()
      docs.count()
      // doc d carries 1 + d%3 absolute links and one relative link
      expectEdges = (0L until nDocs).map(d => 2 + d % 3).sum
    }

    def expect(c: Ctx): Unit = {
      val spark = c.spark
      import spark.implicits._
      val edges = WebGraph.extractAnchors(WebGraph.syntheticWeb(docs, nDocs))
        .select(col("src"), col("dst")).as[(String, String)].collect()
      coreRef = Stats.kCore(edges, 3)
    }

    def pass(c: Ctx): Pass = {
      val edges = c.op("ops.anchors") {
        val e = WebGraph.extractAnchors(WebGraph.syntheticWeb(docs, nDocs)).cache()
        c.check(e.count() == expectEdges, s"$name: anchor count differs from the closed form $expectEdges")
        e
      }
      val hits = c.op("ops.hits")(WebGraph.hitsInt(edges, iterations = Iterations).collect())
      val core = c.op("ops.kcore")(WebGraph.kCore(edges, k = 3).collect())
      edges.unpersist()
      val hfp = hits.map(r => Fp.longs(r.getString(0), r.getLong(1), r.getLong(2))).sum
      c.check(hitsFp.forall(_ == hfp), s"$name: HITS fingerprint changed between passes")
      hitsFp = Some(hfp)
      val got = core.map(r => r.getString(0) -> r.getLong(1)).toMap
      val low = got.count(_._2 < 3)
      c.check(low == 0, s"$name: $low kCore nodes have core_deg < 3")
      c.check(got == coreRef, s"$name: kCore differs from the peeled reference " +
        s"(${got.size} vs ${coreRef.size} nodes)")
      Pass(nDocs)
    }
  }
}
