package graft.ops

import graft.SparkSuite
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** As-of join on hand-built event streams: latest-prior selection,
  * the strict (ts, event_id) tie rule, unmatched sentinels, and
  * per-user isolation. */
class AsofSpec extends AnyFunSuite with SparkSuite {

  private def events(rows: (Long, Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (eid, ms, uid, tpe) => (eid, new Timestamp(ms), uid, tpe) }
      .toDF("event_id", "ts", "user_id", "event_type")
  }

  test("latest prior match, ties, sentinels, per-user isolation") {
    val d = events(
      // user 1: two clicks before the purchase -> the later one wins
      (1L, 1000L, 1L, "click"), (2L, 2000L, 1L, "click"),
      (3L, 3000L, 1L, "purchase"),
      // click AFTER the purchase is invisible to it
      (4L, 4000L, 1L, "click"),
      // ...but visible to a later purchase
      (5L, 5000L, 1L, "purchase"),
      // user 2: click at the SAME ms as the purchase, lower event_id
      // -> counts (strict (ts, event_id) order)
      (6L, 7000L, 2L, "click"), (7L, 7000L, 2L, "purchase"),
      // user 3: click at the same ms but HIGHER event_id -> does NOT
      // count; no earlier click exists -> sentinel
      (9L, 8000L, 3L, "purchase"), (10L, 8000L, 3L, "click"),
      // user 4: purchase with no clicks at all -> sentinel
      (11L, 9000L, 4L, "purchase"),
      // user 5: only the OWN user's clicks match (user 1's clicks are
      // everywhere; user 5 has none before its purchase)
      (12L, 9500L, 5L, "purchase"), (13L, 9600L, 5L, "click"))
    val got = Events.asofLastBefore(d, "click", "purchase")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      3L -> ((1L, 2L, 1000L * 1000)),   // click 2 at 2000ms, lag 1s
      5L -> ((1L, 4L, 1000L * 1000)),   // click 4 at 4000ms, lag 1s
      7L -> ((2L, 6L, 0L)),             // same-ts lower-id click counts
      9L -> ((3L, -1L, -1L)),           // same-ts higher-id click does not
      11L -> ((4L, -1L, -1L)),
      12L -> ((5L, -1L, -1L))))
  }

  test("non-query, non-match event types are transparent carriers") {
    val d = events(
      (1L, 1000L, 1L, "click"), (2L, 1500L, 1L, "view"),
      (3L, 1600L, 1L, "error"), (4L, 2000L, 1L, "purchase"))
    val got = Events.asofLastBefore(d, "click", "purchase").collect()
    assert(got.length === 1)
    assert(got.head.getLong(2) === 1L && got.head.getLong(3) === 1000L * 1000)
  }
}
