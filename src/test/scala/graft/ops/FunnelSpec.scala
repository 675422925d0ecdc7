package graft.ops

import graft.SparkSuite
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Funnel analysis on hand-built event streams: completion, partial
  * dropoff, wrong-order, the strict-after tie rule, and a user who
  * never enters the funnel. */
class FunnelSpec extends AnyFunSuite with SparkSuite {

  private val steps = Seq("signup", "view", "click", "purchase")

  private def events(rows: (Long, Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (eid, ms, uid, tpe) => (eid, new Timestamp(ms), uid, tpe) }
      .toDF("event_id", "ts", "user_id", "event_type")
  }

  test("funnel stages: complete, partial, wrong order, tie, absent") {
    val d = events(
      // user 1: full funnel in order -> stage 4
      (1L, 1000L, 1L, "signup"), (2L, 2000L, 1L, "view"),
      (3L, 3000L, 1L, "click"), (4L, 4000L, 1L, "purchase"),
      // user 2: signup, view, purchase (no click) -> stage 2
      (5L, 1000L, 2L, "signup"), (6L, 2000L, 2L, "view"),
      (7L, 3000L, 2L, "purchase"),
      // user 3: view BEFORE signup; no view after -> stage 1
      (8L, 1000L, 3L, "view"), (9L, 2000L, 3L, "signup"),
      // user 4: view at the SAME timestamp as signup must NOT advance
      // (strict after); the later view does -> stage 2
      (10L, 5000L, 4L, "signup"), (11L, 5000L, 4L, "view"),
      (12L, 6000L, 4L, "view"),
      // user 5: never signs up -> stage 0
      (13L, 1000L, 5L, "view"), (14L, 2000L, 5L, "purchase"))
    val out = Events.funnel(d, steps).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map(
      "signup" -> 4L,   // users 1,2,3,4
      "view" -> 3L,     // users 1,2,4
      "click" -> 1L,    // user 1
      "purchase" -> 1L))
  }

  test("every step present even when nobody reaches it; repartition-invariant") {
    val d = events((1L, 1000L, 1L, "view"))
    val out = Events.funnel(d, steps).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("signup", 1L, 0L), ("view", 2L, 0L),
      ("click", 3L, 0L), ("purchase", 4L, 0L)))
    val big = events((1L to 40L).map(i =>
      (i, i * 1000L, i % 4, steps((i % 4).toInt))): _*)
    val a = Events.funnel(big, steps).collect().map(_.toSeq).sortBy(_.toString)
    val b = Events.funnel(big.repartition(11), steps).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  // ---------------- cohort retention -------------------------------

  private val DAY = 86400000L

  private def retMap(d: DataFrame): Map[(Long, Long), Long] =
    Events.retention(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("retention: cohorts by first week, offsets count returning users") {
    val d = events(
      // user 1: weeks 0, 1, 3 (cohort 0)
      (1L, 0L, 1L, "view"), (2L, 8 * DAY, 1L, "view"), (3L, 22 * DAY, 1L, "view"),
      // user 2: weeks 0, 1 (cohort 0); two events in week 0 dedup
      (4L, 1 * DAY, 2L, "view"), (5L, 2 * DAY, 2L, "view"), (6L, 9 * DAY, 2L, "view"),
      // user 3: week 1 only (cohort 1)
      (7L, 10 * DAY, 3L, "view"))
    assert(retMap(d) == Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 2L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L))
  }

  test("retention: anchor is the global min — weeks are relative") {
    // identical shape shifted by 1000 days must give the same matrix
    val base = Seq((1L, 0L, 1L, "v"), (2L, 8 * DAY, 1L, "v"), (3L, 10 * DAY, 2L, "v"))
    val shifted = base.map { case (e, ms, u, t) => (e, ms + 1000 * DAY, u, t) }
    assert(retMap(events(base: _*)) == retMap(events(shifted: _*)))
  }

  test("retention: repartition-invariant") {
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 28).toLong * DAY, (i % 17).toLong, "v")
    }
    val a = retMap(events(rows: _*))
    val b = Events.retention(events(rows: _*).repartition(9)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == b && a.nonEmpty)
  }

  private def sessSet(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    .toSet

  test("sessionizeStream equals batch sessionize (no exact-gap diffs)") {
    // 3 users, multiple sessions each, out-of-order event ids, a
    // same-timestamp pair — none of the inter-event gaps lands on the
    // boundary, so the state-store result must equal the batch window
    // formulation exactly
    val gapMs = 10000L
    val d = events(
      (1L, 1000L, 1L, "a"), (2L, 2500L, 1L, "a"),   // user1 session A
      (3L, 20000L, 1L, "a"),                        // user1 session B
      (7L, 5000L, 2L, "a"), (6L, 5000L, 2L, "a"),   // user2: ts tie
      (8L, 40000L, 2L, "a"),                        // user2 session B
      (9L, 100L, 3L, "a"))                          // singleton
    val batch = sessSet(Events.sessionize(d, gapUs = gapMs * 1000L))
    val stream = sessSet(Events.sessionizeStream(spark, d,
      gapUs = gapMs * 1000L))
    assert(stream == batch && batch.size == 5)
  }

  test("attributionStream: inclusive boundaries, user scoping, no backwards matches") {
    val winMs = 10000L
    val d = events(
      (1L, 5000L, 1L, "click"),
      (2L, 5000L, 1L, "purchase"),           // lag 0 — included
      (3L, 5000L + winMs, 1L, "purchase"),   // lag == window — included
      (4L, 5000L + winMs + 1, 1L, "purchase"), // 1ms past — excluded
      (5L, 4000L, 1L, "purchase"),           // BEFORE the click — excluded
      (6L, 6000L, 2L, "purchase"),           // other user — excluded
      (7L, 6000L, 2L, "click"))              // matches event 6 (same user)
    val out = Events.attributionStream(spark, d, windowUs = winMs * 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, 2L, 0L),
      (1L, 3L, winMs * 1000L),
      (7L, 6L, 0L)))
  }

  test("a streaming operator keeps only its output once its query has terminated") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staging = tmp.listFiles().filter(_.getName.startsWith("graft_attr")).toSet
    val before = staging
    val d = events((1L, 5000L, 1L, "click"), (2L, 6000L, 1L, "purchase"))
    val out = Events.attributionStream(spark, d, windowUs = 10000L * 1000L)
    val made = staging -- before
    assert(made.size == 1)
    assert(made.head.list().toSet == Set("out")) // in and ckpt are gone
    // the result still reads out lazily
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("session_window boundary: an event at EXACTLY last+gap MERGES (batch-identical)") {
    // pins that Spark's session_window treats the window end as
    // inclusive for merging — an event at exactly last+gap joins the
    // session, the same "break only on diff > gap" rule the batch
    // formulation uses, so the two share one oracle with NO
    // data-dependent boundary caveat
    val gapMs = 10000L
    val d = events((1L, 0L, 1L, "a"), (2L, gapMs, 1L, "a"))
    val stream = sessSet(Events.sessionizeStream(spark, d,
      gapUs = gapMs * 1000L))
    val batch = sessSet(Events.sessionize(d, gapUs = gapMs * 1000L))
    val merged = Set((1L, 1L, 2L, gapMs * 1000L))
    assert(stream == merged && batch == merged)
  }
}
