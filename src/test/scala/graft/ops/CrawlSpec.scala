package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crawl snapshot delta on a hand-built pair of snapshots: every
  * classification exercised, counts exact. */
class CrawlSpec extends AnyFunSuite with SparkSuite {

  test("delta classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val prev = Seq(("a", "h1"), ("b", "h2"), ("c", "h3")).toDF("url", "fp")
    val cur = Seq(("b", "h2"), ("c", "h3x"), ("d", "h4")).toDF("url", "fp")
    val out = Crawl.delta(prev, cur).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "removed", "b" -> "unchanged",
      "c" -> "changed", "d" -> "added"))
    val summary = Crawl.deltaSummary(prev, cur).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary == Map("removed" -> 1L, "unchanged" -> 1L,
      "changed" -> 1L, "added" -> 1L))
  }

  test("NULL fingerprints: presence still counts, null-safe change detection") {
    import spark.implicits._
    // md5(NULL text) = NULL on both engines — presence must come from
    // the row, not fp nullness
    val prev = Seq(("a", Option("h1")), ("b", None), ("c", None), ("d", None))
      .toDF("url", "fp")
    val cur = Seq(("b", None: Option[String]), ("c", Option("h3")))
      .toDF("url", "fp")
    val out = Crawl.delta(prev, cur).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "a" -> "removed",
      "b" -> "unchanged", // NULL <=> NULL
      "c" -> "changed",   // NULL vs h3
      "d" -> "removed"))  // prev-only with NULL fp — the bug case:
                          // fp-nullness-as-presence misread this as 'added'
  }

  test("manifest: partitioning/order-invariant; any single-row change flips its bucket") {
    import spark.implicits._
    val snap = (0 until 300).map(i => (s"https://h/$i", s"fp$i"))
      .toDF("url", "fp")
    val m = (df: org.apache.spark.sql.DataFrame) =>
      Crawl.manifest(df, nBuckets = 8).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    val base = m(snap)
    assert(base.values.map(_._1).sum == 300)
    // replica shuffled/re-partitioned -> identical manifest
    assert(m(snap.repartition(7).orderBy(col("fp").desc)) == base)
    // one corrupted fingerprint -> exactly the affected bucket differs,
    // and only in the xor lanes (counts unchanged)
    val corrupt = m(snap.withColumn("fp",
      when(col("url") === "https://h/123", lit("fpX")).otherwise(col("fp"))))
    val diff = base.keySet.filter(b => base(b) != corrupt(b))
    assert(diff.size == 1)
    val b = diff.head
    assert(base(b)._1 == corrupt(b)._1 &&
      base(b)._2 != corrupt(b)._2 && base(b)._3 != corrupt(b)._3)
  }

  test("mergeUpsert: every action path on a hand-built base + batch") {
    import spark.implicits._
    // base: one row per url at ts 100
    val base = Seq(
      ("kept", 100L, "f0"),        // untouched
      ("upd", 100L, "f1"),         // fresh upsert applies
      ("late", 100L, "f2"),        // stale upsert ignored
      ("gone", 100L, "f3"),        // fresh delete applies
      ("lateDel", 100L, "f4"),     // stale delete ignored
      ("outvoted", 100L, "f5"),    // delete outvoted by newer upsert in batch
      ("eqTs", 100L, "f6"))        // equal-ts upsert wins (idempotent republish)
      .toDF("url", "warc_ts", "fp")
    val batch = Seq(
      ("upd", 200L, "upsert", Option("g1")),
      ("late", 50L, "upsert", Option("g2")),
      ("gone", 200L, "delete", None),
      ("lateDel", 50L, "delete", None),
      ("outvoted", 150L, "delete", None),
      ("outvoted", 200L, "upsert", Option("g5")),
      ("eqTs", 100L, "upsert", Option("g6")),
      ("fresh", 200L, "upsert", Option("g7")),   // insert
      ("ghost", 200L, "delete", None))           // delete-of-absent no-op
      .toDF("url", "warc_ts", "op", "fp")
    val out = Crawl.mergeUpsert(base, batch).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getString(3))))
      .toMap
    assert(out == Map(
      "kept" -> ((100L, "f0", "kept")),
      "upd" -> ((200L, "g1", "updated")),
      "late" -> ((100L, "f2", "kept_late")),
      "lateDel" -> ((100L, "f4", "kept_late")),
      "outvoted" -> ((200L, "g5", "updated")),
      "eqTs" -> ((100L, "g6", "updated")),
      "fresh" -> ((200L, "g7", "inserted"))))
    // 'gone' deleted, 'ghost' never existed
    assert(!out.contains("gone") && !out.contains("ghost"))
  }

  test("mergeUpsert batch collapse: same-ts upsert outvotes delete; fp breaks final tie") {
    import spark.implicits._
    val base = Seq(("u", 100L, "f")).toDF("url", "warc_ts", "fp")
    val batch = Seq(
      ("u", 200L, "delete", None: Option[String]),
      ("u", 200L, "upsert", Option("ga")),
      ("u", 200L, "upsert", Option("gb")))
      .toDF("url", "warc_ts", "op", "fp")
    val out = Crawl.mergeUpsert(base, batch).collect()
    assert(out.length == 1)
    val r = out.head
    // 'upsert' > 'delete' at equal ts; 'gb' > 'ga' at equal (ts, op)
    assert(r.getString(2) == "gb" && r.getString(3) == "updated")
  }

  test("mergeUpsert is idempotent: re-applying the same batch changes nothing") {
    import spark.implicits._
    val base = Seq(("a", 100L, "f1"), ("b", 100L, "f2")).toDF("url", "warc_ts", "fp")
    val batch = Seq(
      ("a", 200L, "upsert", Option("g1")),
      ("b", 200L, "delete", None: Option[String]),
      ("c", 200L, "upsert", Option("g3")))
      .toDF("url", "warc_ts", "op", "fp")
    val once = Crawl.mergeUpsert(base, batch)
      .select("url", "warc_ts", "fp")
    val twice = Crawl.mergeUpsert(once, batch)
    // second application: a/c equal-ts republish → 'updated' with the
    // SAME state; b stays absent
    val snap = (df: org.apache.spark.sql.DataFrame) =>
      df.select("url", "warc_ts", "fp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(snap(twice) == snap(once.toDF()))
  }

  test("identical snapshots are all unchanged; disjoint are added+removed") {
    import spark.implicits._
    val a = Seq(("a", "h1"), ("b", "h2")).toDF("url", "fp")
    assert(Crawl.delta(a, a).collect().forall(_.getString(1) == "unchanged"))
    val b = Seq(("c", "h3")).toDF("url", "fp")
    val m = Crawl.deltaSummary(a, b).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("removed" -> 2L, "added" -> 1L))
  }

  // ---------------- snapshot collapse ------------------------------

  private def collapseMap(rows: Seq[(String, Long, String)]) = {
    val sp = spark
    import sp.implicits._
    Crawl.collapse(rows.toDF("url", "warc_ts", "fp")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5), r.getBoolean(6)))).toMap
  }

  test("collapse: counts, version dedup, first/last ts, latest fp, churn") {
    val out = collapseMap(Seq(
      ("u1", 100L, "A"), ("u1", 200L, "A"), ("u1", 300L, "B"), // refetch then edit
      ("u2", 50L, "X"),                                        // single fetch
      ("u3", 10L, "P"), ("u3", 20L, "P")))                     // stable refetch
    assert(out("u1") == ((3L, 2L, 100L, 300L, "B", true)))
    assert(out("u2") == ((1L, 1L, 50L, 50L, "X", false)))
    assert(out("u3") == ((2L, 1L, 10L, 20L, "P", false)))
  }

  test("collapse: same-second fetches tie-break latest_fp on max fp") {
    val out = collapseMap(Seq(("u", 100L, "aaa"), ("u", 100L, "zzz")))
    assert(out("u") == ((2L, 2L, 100L, 100L, "zzz", true)))
  }

  test("collapse: deterministic under repartitioning") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 200).map(i =>
      (s"u${i % 40}", (1000 + i).toLong, s"fp${i % 3}"))
    val a = Crawl.collapse(rows.toDF("url", "warc_ts", "fp")).collect()
      .map(_.toString).sorted.toSeq
    val b = Crawl.collapse(rows.toDF("url", "warc_ts", "fp").repartition(13))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.size == 40)
  }
}
