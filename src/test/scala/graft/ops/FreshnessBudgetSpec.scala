package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Freshness-weighted apportionment:
  *  - engine output equals an independent JVM computation of the
  *    whole chain (log -> latest fetch -> dyadic decay -> textbook
  *    largest-remainder) on a crafted corpus;
  *  - sum(quota) == budget exactly;
  *  - a fresh host out-quotas an equal-token stale host;
  *  - decay floors at 2^0 beyond the bucket cap.
  */
class FreshnessBudgetSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  /** Independent chain: latest-fetch ts from the generator formula,
    * half-day buckets vs corpus max, dyadic weights, Hamilton. */
  private def expected(rows: Seq[(Long, String, String)], budget: Long,
                       halfLife: Long = 43200L, maxB: Int = 8)
      : Map[String, (Long, Long, Long, Long, Long, Long)] = {
    val lastTs = rows.map { case (d, _, _) =>
      d -> (1700000000L + 97L * d + 86400L * (d % 3)) }.toMap
    val maxTs = lastTs.values.max
    val perDoc = rows.map { case (d, text, src) =>
      val toks = text.toLowerCase.split("[\\s]+").count(_.nonEmpty).toLong
      val bucket = math.min((maxTs - lastTs(d)) / halfLife, maxB.toLong)
      (src, toks, toks * (1L << (maxB - bucket)))
    }
    val byHost = perDoc.groupBy(_._1).map { case (h, xs) =>
      h -> (xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum) }
    val totW = byHost.values.map(_._3).sum
    val based = byHost.toSeq.map { case (h, (n, raw, w)) =>
      (h, n, raw, w, w * budget / totW, (w * budget) % totW) }
    val r = (budget - based.map(_._5).sum).toInt
    val extras = based.sortBy { case (h, _, _, _, _, rem) => (-rem, h) }
      .take(r).map(_._1).toSet
    based.map { case (h, n, raw, w, base, _) =>
      val e = if (extras.contains(h)) 1L else 0L
      h -> (n, raw, w, base, e, base + e)
    }.toMap
  }

  test("equals the independent JVM chain; quotas sum to budget") {
    // ids chosen to hit several half-day buckets and all k in 0..2
    val rows = Seq[(Long, String, String)](
      (0L, "alpha beta gamma delta", "h-old"),
      (1L, "one two three", "h-old"),
      (300L, "a b c d e f", "h-mid"),
      (301L, "g h i", "h-mid"),
      (900L, "fresh tokens here now", "h-new"),
      (902L, "more fresh text", "h-new"))
    val budget = 101L
    val got = Crawl.freshnessBudget(docs(rows), budget)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val want = expected(rows, budget)
    assert(got == want)
    assert(got.values.map(_._6).sum == budget)
  }

  test("fresh host out-quotas an equal-token stale host") {
    // same text mass per host; h-new's ids are ~5 half-days fresher
    val rows = Seq[(Long, String, String)](
      (0L, "w w w w w w w w", "h-stale"),
      (3L, "w w w w w w w w", "h-stale"),
      (2400L, "w w w w w w w w", "h-new"),
      (2403L, "w w w w w w w w", "h-new"))
    val out = Crawl.freshnessBudget(docs(rows), budget = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(6)).toMap
    assert(out("h-new") > out("h-stale"),
      s"fresh must beat stale: $out")
    assert(out.values.sum == 100L)
  }

  test("decay floors at 2^0 beyond the bucket cap") {
    // doc 0 vs doc 9000: age >> 8 half-days -> both weights floored
    // identically would only happen if BOTH were beyond cap; here the
    // fresh doc is bucket 0 (x256) and the stale one caps at x1
    val rows = Seq[(Long, String, String)](
      (0L, "t t t t", "h-a"),
      (9000L, "t t t t", "h-b"))
    val w = Crawl.freshnessBudget(docs(rows), budget = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(w("h-b") == 4L * 256L && w("h-a") == 4L * 1L, s"got $w")
  }
}
