package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TTL-evicting streaming dedup ([[Events.dedupTtlStream]]):
  *  - first arrival emits, in-TTL re-arrivals are suppressed, an
  *    arrival in a batch AFTER watermark-driven eviction emits again;
  *  - eviction happens in the FIRST batch whose eviction watermark
  *    passes the timeout (data in a LATER batch finds no state and
  *    re-emits — u2 emits three times across two evictions);
  *  - timeout equality (timeoutMs == eviction watermark) does NOT
  *    fire — strict inequality — pinned by a key whose non-eviction
  *    suppresses a later arrival;
  *  - the late filter is STRICT in microseconds: a row at exactly
  *    wm*1000 us drops, one microsecond above survives;
  *  - the setTimeoutTimestamp clamp: state set while the watermark
  *    already exceeds the natural TTL survives until the watermark
  *    next advances (Spark rejects timeouts below the watermark);
  *  - min-fold determinism for multi-row emitting batches.
  */
class StreamDedupTtlSpec extends AnyFunSuite with SparkSuite {

  private val H = 3600L * 1000000L // one hour in us

  private def run(rows: Seq[(Long, Long, Long)], nBatches: Int = 4) = {
    import spark.implicits._
    val events = rows.toDF("event_id", "us", "user_id")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"))
    Events.dedupTtlStream(spark, events, nBatches = nBatches).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
  }

  test("emit / suppress / evict / re-emit with all boundary pins") {
    // batch = event_id % 5; delay 30 min, ttl 2 h
    val rows = Seq(
      // b0 — wm still 0
      (0L, 1 * H, 1L),        // u1 -> EMIT @1H
      (5L, 1 * H, 2L),        // u2 -> EMIT @1H
      (10L, 10 * H, 9L),      // u9 (b0 max anchor) -> EMIT
      (15L, 15 * H / 2, 5L),  // u5 @7.5H: timeout = EXACTLY wmE(b2)
      // b1 — late filter still 0 (lag), eviction wm = 9.5H
      (1L, 3 * H / 2, 1L),    // u1 suppressed; timeout CLAMPED to
                              // 9.5H+1ms (natural 3.5H is below wm)
      (6L, H / 10, 3L),       // u3 -> EMIT @0.1H (lagged filter)
      // b2 — wmE = 9.5H, wmL = 9.5H
      (7L, 97 * H / 10, 2L),  // u2 was EVICTED back in b1 (timeout 3H
                              // < wmE(1)=9.5H) -> fresh key -> EMIT
      (12L, 19 * H / 2, 4L),  // u4 EXACTLY at wmL (us == wm*1000) ->
                              // DROPPED (strict), no emission
      (22L, 19 * H / 2 + 1, 6L), // u6 ONE MICROSECOND above -> KEPT
      (17L, 20 * H, 8L),      // u8 -> EMIT (raises the anchor to 20H)
      // b3 — wmE = 19.5H: u1 (tmo 9.5H+1), u9 (12H), u3 (9.5H+1),
      // u4 (11.5H) all evict; u5 (34.2e6 == wmE(b2), strict -> alive
      // through b2) now has DATA -> suppressed, state refreshed
      (3L, 199 * H / 10, 7L), // u7 -> EMIT @19.9H
      (8L, 199 * H / 10, 5L), // u5 suppressed iff b2 equality did NOT
                              // evict (THE strict-inequality pin)
      // b4 — wmL = 19.5H
      (4L, 196 * H / 10, 1L), // u1 re-arrival after b3 eviction -> EMIT
      (9L, 198 * H / 10, 2L)) // u2 evicted AGAIN in b3 -> EMIT
    val got = run(rows, nBatches = 5)
    assert(got == Seq(
      (1L, 1 * H), (1L, 196 * H / 10),
      (2L, 1 * H), (2L, 97 * H / 10), (2L, 198 * H / 10),
      (3L, H / 10),
      (5L, 15 * H / 2),
      (6L, 19 * H / 2 + 1),
      (7L, 199 * H / 10),
      (8L, 20 * H),
      (9L, 10 * H)))
  }

  test("min-fold determinism for multi-row emitting batches") {
    val rows = Seq(
      (0L, 5 * H, 7L), (4L, 3 * H, 7L), (8L, 4 * H, 7L), // u7 x3 in b0
      (12L, 10 * H, 9L))
    val got = run(rows)
    assert(got == Seq((7L, 3 * H), (9L, 10 * H)))
  }
}
