package graft.ops

import graft.SparkSuite
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Session-overlap census: the rank-arithmetic sweep must equal the
  * brute-force quadratic count — hand cases for closed-interval
  * boundary touching, then a seeded randomized cross-check. */
class OverlapSpec extends AnyFunSuite with SparkSuite {

  private def events(rows: (Long, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.map { case (eid, ms, uid) => (eid, new Timestamp(ms), uid, "view") }
      .toDF("event_id", "ts", "user_id", "event_type")
  }

  /** Brute-force overlap counts straight from the engine's own
    * interval table (closed intervals, count != self). */
  private def brute(d: DataFrame, gapUs: Long): Map[Long, Long] = {
    val iv = Events.sessionIntervals(d, gapUs)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    iv.map { case (id, s, e) =>
      id -> iv.count { case (id2, s2, e2) => id2 != id && s2 <= e && e2 >= s }.toLong
    }.toMap
  }

  private def engine(d: DataFrame, gapUs: Long): Map[Long, Long] =
    Events.sessionOverlap(d, gapUs)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap

  test("hand case: containment, disjoint, endpoint touching") {
    // gap 10s; ms timestamps. Sessions (closed intervals in us):
    //  u1: events at 0..5s            -> A = [0, 5s]
    //  u2: events at 1s..2s           -> B = [1s, 2s]   (inside A)
    //  u3: single event at 5s         -> C = [5s, 5s]   (touches A's end)
    //  u4: single event at 60s        -> D = [60s, 60s] (disjoint)
    //  u5: events at 58s and 62s      -> E = [58s, 62s] (covers D)
    val d = events(
      (1L, 0L, 1L), (2L, 3000L, 1L), (3L, 5000L, 1L),
      (10L, 1000L, 2L), (11L, 2000L, 2L),
      (20L, 5000L, 3L),
      (30L, 60000L, 4L),
      (40L, 58000L, 5L), (41L, 62000L, 5L),
      (50L, 200000L, 6L)) // F = [200s, 200s], isolated -> 0
    val got = engine(d, gapUs = 10L * 1000000L)
    // A overlaps B and C; B overlaps A; C touches A (closed -> counts);
    // D inside E; E covers D; F overlaps nothing.
    assert(got === Map(1L -> 2L, 10L -> 1L, 20L -> 1L, 30L -> 1L,
      40L -> 1L, 50L -> 0L))
    assert(got === brute(d, 10L * 1000000L))
  }

  test("one session in total has zero overlaps") {
    val d = events((1L, 1000L, 1L), (2L, 2000L, 1L))
    assert(engine(d, 10L * 1000000L) === Map(1L -> 0L))
  }

  test("seeded randomized cross-check vs brute force") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      (i.toLong, rnd.nextInt(500000).toLong, rnd.nextInt(12).toLong)
    }
    val d = events(rows: _*)
    val gapUs = 20L * 1000 * 1000 // 20s gap over a 500s horizon
    val b = brute(d, gapUs)
    assert(b.nonEmpty && b.values.exists(_ > 0),
      "fixture should produce overlapping sessions")
    assert(engine(d, gapUs) === b)
  }
}
