package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sitemap coverage ([[WebGraph.parseSitemap]] /
  * [[WebGraph.sitemapCoverage]]):
  *  - kernel vectors: urlset with/without lastmod, sitemapindex,
  *    truncated trailing loc, null/garbage input;
  *  - census on a hand corpus: both/declared-only/fetched-only cells
  *    and the lastmod-day sum all hand-computed;
  *  - full synthetic 13-host corpus equals a closed-form JVM
  *    replication of the oracle's variant rules.
  */
class SitemapSpec extends AnyFunSuite with SparkSuite {

  test("parse kernel vectors") {
    val (i1, e1, n1) = WebGraph.parseSitemap(
      "<?xml version=\"1.0\"?>\n<urlset>\n" +
        "  <url><loc>https://h/a</loc></url>\n" +
        "  <url><loc>https://h/b</loc><lastmod>2026-01-07</lastmod></url>\n" +
        "</urlset>\n")
    assert(!i1 && n1 == 0)
    assert(e1 == Vector(("https://h/a", 0), ("https://h/b", 7)))
    val (i2, e2, n2) = WebGraph.parseSitemap(
      "<sitemapindex><sitemap><loc>https://h/m1.xml</loc></sitemap>" +
        "<sitemap><loc>https://h/m2.xml</loc></sitemap></sitemapindex>")
    assert(i2 && e2.isEmpty && n2 == 2)
    val (_, e3, _) = WebGraph.parseSitemap(
      "<urlset><url><loc>https://h/ok</loc></url><url><loc>https://h/trunc")
    assert(e3 == Vector(("https://h/ok", 0)))
    assert(WebGraph.parseSitemap(null)._2.isEmpty)
    assert(WebGraph.parseSitemap("not xml at all")._2.isEmpty)
  }

  test("hand census: both / declared-only / fetched-only / lastmod sum") {
    import spark.implicits._
    val maps = Seq(
      ("hA", "<urlset>" +
        "<url><loc>https://hA/p1</loc><lastmod>2026-01-03</lastmod></url>" +
        "<url><loc>https://hA/p2</loc><lastmod>2026-01-11</lastmod></url>" +
        "<url><loc>https://hA/dead</loc></url></urlset>"),
      ("hB", "<sitemapindex><sitemap><loc>https://hB/m.xml</loc></sitemap></sitemapindex>"))
      .toDF("host", "sitemap_xml")
    val fetched = Seq("https://hA/p1", "https://hA/p2", "https://hA/extra",
      "https://hB/only").toDF("url")
      .select(col("url"),
        regexp_extract(col("url"), "^https?://([^/?#]+)", 1).as("h"))
      .select(col("url"))
    val got = WebGraph.sitemapCoverage(maps, fetched).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Long]))
      .toMap
    // hA: declared 3, fetched 3, both 2, declared-only 1 (dead),
    // fetched-only 1 (extra), lastmod sum 3+11=14
    assert(got("hA") == Seq(0L, 0L, 3L, 3L, 2L, 1L, 1L, 14L))
    // hB: index with 1 loc; fetched-only 1
    assert(got("hB") == Seq(1L, 1L, 0L, 1L, 0L, 0L, 1L, 0L))
  }

  test("synthetic corpus equals the closed-form variant rules") {
    import spark.implicits._
    val n = 200
    val docs = (0 until n).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    val fetched = docs.select(concat(lit("https://host"),
      (col("doc_id") % 13).cast("string"), lit(".example/doc"),
      col("doc_id").cast("string")).as("url"))
    val got = WebGraph.sitemapCoverage(
      WebGraph.syntheticSitemaps(docs), fetched).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(_.asInstanceOf[Long]))
      .toMap
    (0 until 13).foreach { h =>
      val hv = h % 4
      val ds = (0 until n).filter(_ % 13 == h)
      val decl = hv match {
        case 0 => ds.count(_ % 2 == 0) + 2
        case 1 => ds.count(_ % 3 == 0) + 1
        case 2 => 0
        case 3 => 1
      }
      val both = hv match {
        case 0 => ds.count(_ % 2 == 0)
        case 1 => ds.count(_ % 3 == 0)
        case _ => 0
      }
      val lmSum = if (hv == 1) ds.filter(_ % 3 == 0).map(_ % 28 + 1).sum else 0
      val exp = Seq(if (hv == 2) 1L else 0L, if (hv == 2) 3L else 0L,
        decl.toLong, ds.size.toLong, both.toLong, (decl - both).toLong,
        (ds.size - both).toLong, lmSum.toLong)
      assert(got(s"host$h.example") == exp, s"host$h")
    }
  }
}
