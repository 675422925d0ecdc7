package graft.spark

import graft.SparkSuite
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MapPartitions}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.Outputs

/** Markdown and html are built only when the plan reads them: the
  * optimized plan carries, per consumer shape, the outputs the extraction
  * function builds; narrowing never changes a row's text, counts or
  * status; and every consumer that reads markdown or html (a write,
  * typed objects, `.rdd`, the checkpointed run) still gets them. */
class ExtractOutputsSpec extends AnyFunSuite with SparkSuite {

  /** Salted with a threshold low enough that both tiers hold rows, and
    * unsalted: one extraction function or two. */
  private val configs = Seq(
    "unsalted" -> ExtractJob.Config(salt = false),
    "salted" -> ExtractJob.Config(salt = true, heavyThresholdBytes = 4096))

  private def flags(plan: LogicalPlan): Seq[Outputs] = plan.collect {
    case m: MapPartitions => (m.func: AnyRef) match {
      case f: ExtractJob.ExtractPartitions => Some(f.outputs)
      case _ => None
    }
  }.flatten

  private def optimized(ds: Dataset[_]): Seq[Outputs] = flags(ds.queryExecution.optimizedPlan)

  private def nFunctions(cfg: ExtractJob.Config): Int = if (cfg.salt) 2 else 1

  private def mixed(n: Long): DataFrame = PagesGen.generateMixed(spark, n, 42L, 4).toDF()

  /** The kernel's all-outputs row, the reference every full read must match. */
  private def kernel(pages: DataFrame): Map[String, ExtractedDoc] = {
    import spark.implicits._
    pages.select("url", "html").as[(String, Array[Byte])].collect()
      .map { case (u, b) => u -> ExtractJob.extractOne(u, b, 0, ExtractJob.Config()) }.toMap
  }

  for ((name, cfg) <- configs)
    test(s"optimized plan builds only the outputs each consumer reads ($name)") {
      val ds = ExtractJob.extract(mixed(64), cfg)
      val n = nFunctions(cfg)
      def check(what: String, got: Seq[Outputs], want: Outputs): Unit =
        assert(got == Seq.fill(n)(want), s"$what: $got")
      check("analyzed", flags(ds.queryExecution.analyzed), Outputs.All)
      check("select(url, text)", optimized(ds.select("url", "text")), Outputs.TextOnly)
      check("count()", optimized(ds.groupBy().count()), Outputs.TextOnly)
      check("select(markdown)", optimized(ds.select("markdown")), Outputs(markdown = true, html = false))
      // html feeds the filter; the serializer under a Filter stays whole,
      // so what the Project and the Filter read decides
      check("filter(html =!= '').select(url)",
        optimized(ds.filter(col("html") =!= "").select("url")), Outputs(markdown = false, html = true))
      check("filter(status === ok).select(url, markdown)",
        optimized(ds.filter(col("status") === "ok").select("url", "markdown")), Outputs(markdown = true, html = false))
      check("toDF()", optimized(ds.toDF()), Outputs.All)
      import spark.implicits._
      check("typed map(_.html)", optimized(ds.map(_.html)), Outputs.All)
      check("typed filter", optimized(ds.filter(_.status == "ok").select("url")), Outputs.All)
      // count() runs, and agrees with the full read
      assert(ds.count() == 64L)
    }

  for ((name, cfg) <- configs)
    test(s"a write, typed objects and .rdd still get markdown and html ($name)") {
      val pages = mixed(48)
      val ref = kernel(pages)
      assert(ref.values.count(d => d.markdown.nonEmpty) > 24 && ref.values.count(_.html.nonEmpty) > 12)
      val ds = ExtractJob.extract(pages, cfg)
      import spark.implicits._
      def same(got: Seq[(String, String, String)], what: String): Unit = {
        assert(got.size == ref.size, what)
        got.foreach { case (u, md, html) =>
          assert(md == ref(u).markdown && html == ref(u).html, s"$what: $u")
        }
      }
      // the plan the write runs, captured from the listener bus
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val dir = Files.createTempDirectory("graft-outputs").resolve("out").toString
      try {
        ds.toDF().write.parquet(dir)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val written = plans.toArray(Array.empty[QueryExecution]).toSeq.flatMap(qe => flags(qe.optimizedPlan))
      assert(written.nonEmpty && written.forall(_ == Outputs.All), written)
      same(spark.read.parquet(dir).select("url", "markdown", "html")
        .as[(String, String, String)].collect().toSeq, "write")
      same(ds.map(d => (d.url, d.markdown, d.html)).collect().toSeq, "typed map")
      same(ds.rdd.map(d => (d.url, d.markdown, d.html)).collect().toSeq, ".rdd")
      same(ds.collect().map(d => (d.url, d.markdown, d.html)).toSeq, "collect")
      // a Filter under a narrow select still filters on the html it builds
      assert(ds.filter(col("html") =!= "").select("url").as[String].collect().toSet ==
        ref.collect { case (u, d) if d.html.nonEmpty => u }.toSet)
    }

  /** Byte-flipped, truncated and broken payloads: the cases where a
    * skipped conversion could change a status if any did. */
  private def malformed: Seq[PageRow] = {
    val ts = new Timestamp(0)
    val rnd = new java.util.Random(1234)
    val flipped = (0 until 120).map { i =>
      val bytes = PagesGen.payload((i % 40).toLong, 42L)._1.clone()
      (0 until 1 + rnd.nextInt(8)).foreach(_ => bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte)
      PageRow(s"https://fuzz/flip$i", ts, bytes, "", "en")
    }
    val whole = PagesGen.payload(1L, 42L)._1
    val truncated = Seq(0, 1, 7, 64, whole.length / 4, whole.length / 2, whole.length - 3).map { n =>
      PageRow(s"https://fuzz/trunc$n", ts, whole.take(n), "", "en")
    }
    val garbage = { val a = new Array[Byte](5000); new java.util.Random(3).nextBytes(a)
      System.arraycopy("%PDF-1.7".getBytes, 0, a, 0, 8); a }
    flipped ++ truncated ++ Seq(
      PageRow("https://bad/nohdr", ts, "%PDF-1.4 then nothing".getBytes, "", "en"),
      PageRow("https://bad/garbage", ts, garbage, "", "en"),
      PageRow("https://bad/null", ts, null, "", "en"))
  }

  /** The mixed, fixture and malformed corpora of the text-level checks. */
  private def corpora: Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq("generateMixed" -> mixed(400),
      "generateFixtures" -> PagesGen.generateFixtures(spark, nPerKind = 6, parallelism = 2).toDF(),
      "malformed" -> spark.createDataset(malformed).toDF())
  }

  private val kept = Seq("url", "text", "title", "status", "error_msg", "n_pages", "n_spans", "n_bytes")

  for ((name, cfg) <- configs)
    test(s"text-only and full plans agree byte for byte on text, counts and status ($name)") {
      for ((corpus, pages) <- corpora) {
        val ds = ExtractJob.extract(pages, cfg)
        val narrow = ds.select(kept.map(col): _*)
        assert(optimized(narrow) == Seq.fill(nFunctions(cfg))(Outputs.TextOnly))
        assert(optimized(ds.toDF()) == Seq.fill(nFunctions(cfg))(Outputs.All))
        val full = ds.toDF().collect().map(r => kept.map(k => r.get(r.fieldIndex(k))))
        val text = narrow.collect().map(_.toSeq)
        assert(text.length == full.length, corpus)
        def key(r: Seq[Any]) = r.head.asInstanceOf[String]
        assert(text.sortBy(key).toSeq == full.sortBy(key).toSeq, corpus)
        if (corpus == "malformed")
          assert(text.map(_(3)).toSet.contains("error") && text.map(_(3)).toSet.contains("ok"))
      }
    }

  test("kernel: text-only calls agree with full calls on everything but markdown and html") {
    val cfg = ExtractJob.Config()
    val docs = malformed.map(r => r.url -> r.html) ++
      (0L until 200L).map(i => s"https://mixed/$i" -> PagesGen.mixedPayload(i, 42L)._1)
    docs.foreach { case (u, b) =>
      val full = ExtractJob.extractOne(u, b, 0, cfg)
      val text = ExtractJob.extractOne(u, b, 0, cfg, Outputs.TextOnly)
      assert(text.markdown.isEmpty && text.html.isEmpty, u)
      assert(text.copy(markdown = full.markdown, html = full.html, duration_ms = full.duration_ms) == full, u)
      val md = ExtractJob.extractOne(u, b, 0, cfg, Outputs(markdown = true, html = false))
      assert(md.markdown == full.markdown && md.html.isEmpty, u)
    }
  }

  test("extractDeduped runs extract's function: select(url, text) builds no markdown or html") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val base = mixed(64)
    val pages = base.unionAll(base.withColumn("url", concat(lit("dup-"), col("url"))))
    val narrow = ExtractJob.extractDeduped(pages).select("url", "text")
    assert(optimized(narrow) == Seq(Outputs.TextOnly))
    assert(narrow.queryExecution.optimizedPlan.toString.contains("ExtractPartitions(markdown=false, html=false)"))
    val plain = ExtractJob.extract(pages).select("url", "text").as[(String, String)].collect()
    assert(plain.length == 128)
    assert(narrow.as[(String, String)].collect().sorted.toSeq == plain.sorted.toSeq)
  }

  test("extract_text is extractOne's text-only text where the status is ok, NULL elsewhere") {
    import spark.implicits._
    for ((corpus, pages) <- corpora) {
      val rows = pages.select(col("url"), col("html"), ExtractText.of(col("html")))
        .as[(String, Array[Byte], String)].collect()
      assert(rows.nonEmpty, corpus)
      for ((u, b, t) <- rows) {
        val d = ExtractJob.extractOne(u, b, 0, ExtractJob.Config(), Outputs.TextOnly)
        assert(t == (if (d.status == "ok") d.text else null), s"$corpus: $u")
      }
      if (corpus == "malformed")
        assert(rows.exists(_._3 == null) && rows.exists(_._3 != null))
    }
  }

  test("runWithCheckpoint output carries the full markdown and html") {
    val pages = mixed(60)
    val ref = kernel(pages)
    val root = Files.createTempDirectory("graft-outputs-ckpt").toString
    val report = ExtractJob.runWithCheckpoint(spark, pages, s"$root/out", s"$root/ckpt", "r1",
      ExtractJob.Config(salt = true, heavyThresholdBytes = 4096), nBuckets = 4)
    assert(report.attempted == 60L)
    val out = ExtractJob.readOutput(spark, s"$root/out")
      .select("url", "text", "markdown", "html", "title", "status").collect()
    assert(out.length == 60)
    assert(out.count(_.getString(2).nonEmpty) > 30 && out.count(_.getString(3).nonEmpty) > 15)
    out.foreach { r =>
      val d = ref(r.getString(0))
      assert((r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5)) ==
        (d.text, d.markdown, d.html, d.title, d.status), r.getString(0))
    }
  }

  test("extract() registers the rule once per session and keeps the user's rules") {
    object UserRule extends Rule[LogicalPlan] { def apply(p: LogicalPlan): LogicalPlan = p }
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val before = exp.extraOptimizations
    exp.extraOptimizations = before :+ UserRule
    try {
      val pages = mixed(8)
      (1 to 50).foreach(_ => ExtractJob.extract(pages))
      assert(exp.extraOptimizations.count(_ eq ExtractJob.PruneOutputs) == 1)
      assert(exp.extraOptimizations.contains(UserRule))
      assert(ExtractJob.extract(pages).select("text").count() == 8L)
    } finally exp.extraOptimizations = exp.extraOptimizations.filterNot(_ eq UserRule)
  }
}
