package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hourly MAD anomalies ([[Events.hourlyAnomalies]]):
  *  - hand corpus: counts (4,5,5,6,50) -> med 5, mad 1; only the
  *    burst hour flags at k=3;
  *  - lower-median convention on even counts (no averaging);
  *  - mad = 0: any deviation flags, identical hours don't;
  *  - robustness: the burst hour barely moves the threshold (vs a
  *    mean/stddev detector it would mask itself).
  */
class AnomalyMadSpec extends AnyFunSuite with SparkSuite {

  private val H = 3600L * 1000000L

  /** Build events with the given number of rows in each hour. */
  private def events(hourCounts: Seq[Int]) = {
    import spark.implicits._
    hourCounts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(j => (h.toLong * 1000 + j, h * H + j * 1000L))
    }.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
  }

  private def run(hourCounts: Seq[Int]) =
    Events.hourlyAnomalies(events(hourCounts)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap

  test("burst hour flags, median/mad exact, lower-median convention") {
    val got = run(Seq(4, 5, 5, 6, 50))
    // sorted counts 4,5,5,6,50: med = 5; devs 0,0,1,1,45 -> mad = 1
    got.values.foreach { case (_, _, _, med, mad) =>
      assert(med == 5L && mad == 1L)
    }
    assert(got(4L) == ((50L, 45L, 1L, 5L, 1L)))
    assert(got(0L)._3 == 0L) // dev 1 <= 3
    // even count: 4,5,6,50 -> lower median = 5 (rank (4-1)/2 = idx 1)
    val even = run(Seq(4, 5, 6, 50))
    assert(even.values.head._4 == 5L)
  }

  test("mad 0: identical hours clean, any deviation flags") {
    val got = run(Seq(7, 7, 7, 8))
    // med 7, devs 0,0,0,1 -> mad 0; hour with 8 deviates 1 > 0 -> flag
    assert(got(3L)._3 == 1L)
    assert(got(0L)._3 == 0L)
  }
}
