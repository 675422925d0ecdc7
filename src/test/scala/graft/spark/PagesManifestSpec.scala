package graft.spark

import graft.SparkSuite
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, concat, length, lit, max, pmod, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** The pages-table manifest and what `extract` plans from it: no heavy
  * tier over a manifested table whose largest payload is within the
  * threshold, the salted plan for every input the manifest cannot bound,
  * and the same rows either way. Also the known-schema reads. */
class PagesManifestSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  /** A fresh manifested pages table of `n` mixed docs. */
  private def table(n: Long = 60): String = {
    val dir = Files.createTempDirectory("graft-manifest").resolve("pages").toString
    PagesGen.writeBucketed(PagesGen.generateMixed(spark, n, 11L, 4), dir, 4)
    dir
  }

  /** Shuffle exchanges in the physical plan, as planned (before AQE can
    * drop a branch that turns out empty). */
  private def shuffles(ds: Dataset[_]): Int =
    collect(ds.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }.size

  private def rows(ds: Dataset[ExtractedDoc]) =
    ds.collect().map(d => d.url -> (d.text, d.markdown, d.html, d.title, d.status, d.n_pages, d.n_spans)).toMap

  /** `extract(pages, cfg)` plans `nShuffles` exchanges and returns, per
    * url, what the unsalted plan returns. */
  private def check(pages: DataFrame, nShuffles: Int, cfg: ExtractJob.Config = ExtractJob.Config()): Unit = {
    val ds = ExtractJob.extract(pages, cfg)
    assert(shuffles(ds) == nShuffles, ds.queryExecution.executedPlan.toString)
    val got = rows(ds)
    assert(got.size == pages.count())
    assert(got == rows(ExtractJob.extract(pages, cfg.copy(salt = false))))
  }

  private def bound(dir: String): Long = PagesManifest.read(spark, dir).get.maxHtmlBytes

  test("writeBucketed leaves a manifest naming every data file and the largest payload") {
    val dir = table()
    val m = PagesManifest.read(spark, dir).get
    val pages = PagesGen.readBucketed(spark, dir)
    assert(m.maxHtmlBytes == pages.agg(max(length(col("html")))).head().getInt(0).toLong)
    assert(m.files.size == pages.inputFiles.length && m.files.size == 4, m.files.keys.mkString(","))
    assert(m.files.keys.forall(_.startsWith("bucket=")), m.files.keys.mkString(","))
    assert(PagesManifest.htmlBound(pages).contains(m.maxHtmlBytes))
    assert(spark.read.parquet(dir).count() == 60, "readers skip the manifest")
  }

  test("a manifested table within the threshold: extract plans no Exchange, same rows") {
    val dir = table()
    assert(bound(dir) <= ExtractJob.Config().heavyThresholdBytes)
    check(PagesGen.readBucketed(spark, dir), 0)
  }

  test("the bound follows html through renames, Filter, Join, Sort, Limit, Repartition and Union") {
    val dir = table()
    val b = Some(bound(dir))
    val t = PagesGen.readBucketed(spark, dir)
    val isNew = pmod(xxhash64(col("url")), lit(4)) === 0
    assert(PagesManifest.htmlBound(t.filter(isNew)) == b)
    assert(PagesManifest.htmlBound(t.select(col("url"), col("html").as("body")).select(
      col("url"), col("body").as("html"))) == b)
    assert(PagesManifest.htmlBound(t.join(t.select("url").limit(5), Seq("url"), "left_anti")) == b)
    assert(PagesManifest.htmlBound(t.select("url").join(t, Seq("url"))) == b)
    assert(PagesManifest.htmlBound(t.repartition(3).sort("url").limit(10)) == b)
    assert(PagesManifest.htmlBound(t.filter(isNew).union(t.filter(!isNew))) == b)
    assert(PagesManifest.htmlBound(t.as("p").select("p.url", "p.html")) == b)
    // a payload column that is not the table's html carries no bound
    assert(PagesManifest.htmlBound(t.select(col("url"), col("text").cast("binary").as("html"))).isEmpty)
  }

  test("a threshold below the bound keeps the salted heavy tier") {
    val dir = table()
    check(PagesGen.readBucketed(spark, dir), 1, ExtractJob.Config(heavyThresholdBytes = bound(dir) - 1))
  }

  test("a file appended after the manifest keeps the salted heavy tier") {
    import spark.implicits._
    val dir = table()
    val big = ("<html><body><article>" + "<p>Appended paragraph about extraction engines.</p>" * 24000 +
      "</article></body></html>").getBytes("UTF-8")
    assert(big.length > ExtractJob.Config().heavyThresholdBytes)
    Seq(PageRow("https://appended.example/big.html", new java.sql.Timestamp(0), big, "", "en")).toDS()
      .withColumn("bucket", lit(0)).write.mode("append").partitionBy("bucket").parquet(dir)
    val pages = PagesGen.readBucketed(spark, dir)
    assert(PagesManifest.htmlBound(pages).isEmpty)
    check(pages, 1)
  }

  test("a Union with an unbounded child, in either order, keeps the salted heavy tier") {
    val bounded = PagesGen.readBucketed(spark, table()).select("url", "html")
    val plain = Files.createTempDirectory("graft-plain").resolve("pages").toString
    PagesGen.generateMixed(spark, 30, 12L, 2).withColumn("url", concat(lit("plain:"), col("url")))
      .write.parquet(plain)
    val unbounded = spark.read.parquet(plain).select("url", "html")
    check(bounded.union(unbounded), 1)
    check(unbounded.union(bounded), 1)
  }

  test("an html computed by an expression keeps the salted heavy tier") {
    val pages = PagesGen.readBucketed(spark, table())
    check(pages.withColumn("html", concat(col("html"), col("html"))), 1)
  }

  test("an input with no file relation (a cached DataFrame) keeps the salted heavy tier") {
    val pages = PagesGen.generate(spark, 40, 13L, 4).toDF().cache()
    try check(pages, 1) finally pages.unpersist()
  }

  test("readBucketed and readOutput use the schema Spark infers, and launch no job") {
    val dir = table(40)
    val (pages, readJobs) = graft.SparkJobs.during(spark.sparkContext)(PagesGen.readBucketed(spark, dir))
    assert(readJobs == 0)
    assert(pages.schema == spark.read.parquet(dir).schema)
    val base = Files.createTempDirectory("graft-output").toString
    ExtractJob.runWithCheckpoint(spark, pages, s"$base/out", s"$base/ckpt", "schema", nBuckets = 4)
    val (out, outJobs) = graft.SparkJobs.during(spark.sparkContext)(ExtractJob.readOutput(spark, s"$base/out"))
    assert(outJobs == 0)
    assert(out.schema == spark.read.option("basePath", s"$base/out").parquet(s"$base/out").schema)
    assert(out.count() == 40)
  }
}
