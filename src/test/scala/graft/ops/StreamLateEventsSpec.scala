package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Watermark late-data semantics ([[Events.lateEventsStream]]):
  *  - the late filter uses the PREVIOUS micro-batch's watermark
  *    (SPARK-24634): batches 0 and 1 are never filtered, batch i is
  *    filtered against max(event time over batches ≤ i−2) − delay —
  *    pinned by a window that keeps its batch-2 row but loses its
  *    batch-3 row under the advanced watermark;
  *  - the boundary is STRICT: a window whose end equals the lagged
  *    watermark is dropped (survive iff end > wm);
  *  - a JVM replication of the oracle's exact rule reproduces the
  *    engine output on a deterministic pseudo-random corpus.
  */
class StreamLateEventsSpec extends AnyFunSuite with SparkSuite {

  private val H = 3600L * 1000000L

  private def run(rows: Seq[(Long, Long)], delayUs: Long) = {
    import spark.implicits._
    val events = rows.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
    Events.lateEventsStream(spark, events, windowUs = H, delayUs = delayUs)
      .collect()
      .map(r => (r.getLong(0) / H, r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
  }

  test("lagged watermark, strict boundary, per-batch outcomes") {
    // batch = event_id % 4; delay = 1 hour
    val rows = Seq(
      (0L, 10 * H),         // b0: the b0 max anchor, window 10
      (4L, 1 * H + 100L),   // b0: window 1
      (1L, 1 * H + 200L),   // b1: never filtered despite being old
      (5L, 23 * H / 2),     // b1 max = 11.5H, window 11
      (2L, 1 * H + 400L),   // b2: end 2H <= 9H -> DROP
      (6L, 8 * H + 700L),   // b2: end 9H == wm 9H -> boundary DROP
      (10L, 9 * H + 10L),   // b2: end 10H > 9H -> survive (window 9)
      (3L, 9 * H + 1000L),  // b3: end 10H <= wm 10.5H -> DROP (same
                            //     window as id 10 — batch decides!)
      (7L, 10 * H + 200L))  // b3: end 11H > 10.5H -> survive
    val got = run(rows, delayUs = H)
    assert(got.toSeq == Seq(
      (1L, 2L, 1L),   // ids 4 + 1
      (9L, 1L, 10L),  // id 10 survived; id 3 in the SAME window dropped
      (10L, 2L, 0L),  // ids 0 + 7
      (11L, 1L, 5L))) // id 5
  }

  test("JVM replication of the oracle rule matches the engine") {
    val delay = 1800L * 1000000L
    val rows = (0L until 400L).map { i =>
      var z = i * 0x9e3779b97f4a7c15L + 0xbf58476d1ce4e5b9L
      z ^= z >>> 30; z *= 0x94d049bb133111ebL; z ^= z >>> 27
      (i, math.floorMod(z, 30L * 24 * H)) // 30 days of microseconds
    }
    val got = run(rows, delay)
    // first-principles replica: per-batch maxes, lagged monotone fold,
    // strict end-vs-watermark rule
    val maxes = rows.groupBy(_._1 % 4).map { case (b, rs) => b -> rs.map(_._2).max }
    val surv = rows.filter { case (id, us) =>
      val b = id % 4
      b <= 1 || {
        val wm = (0L to b - 2).flatMap(maxes.get).max - delay
        us / H * H + H > wm
      }
    }
    val expect = surv.groupBy(_._2 / H).map { case (w, rs) =>
      (w, rs.size.toLong, rs.map(_._1).min)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expect)
  }
}
