package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Log2-bucket quantile sketch: hand-computed buckets and ranks, the
  * DDSketch error contract (exact value inside [lo, hi], hi < 2·lo),
  * histogram mergeability (the property that makes it a sketch), and
  * partition independence. */
class QuantileSketchSpec extends AnyFunSuite with SparkSuite {

  private def docs(lens: Int*): DataFrame = {
    import spark.implicits._
    lens.zipWithIndex.map { case (n, i) => (i.toLong, "x" * n) }
      .toDF("doc_id", "text")
  }

  private def hist(df: DataFrame): Map[Long, Long] =
    Sampling.lengthHistogram(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("histogram buckets are binary digit counts") {
    // 0 -> b0; 1 -> b1; 2,3 -> b2; 4..7 -> b3; 8..15 -> b4; 100 -> b7
    val h = hist(docs(0, 1, 2, 3, 4, 7, 8, 9, 100))
    assert(h === Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 7L -> 1L))
  }

  test("hand-computed quantile rows") {
    // lengths sorted: 10x1, 10x20, 10x300 ; n=30
    val df = docs(Seq.fill(10)(1) ++ Seq.fill(10)(20) ++ Seq.fill(10)(300): _*)
    val got = Sampling.quantileSketch(df, Seq(50, 90)).collect()
      .map(r => r.getLong(0) -> r).toMap
    // p50: rank=ceil(15)=15 -> value 20 -> bucket 5 [16,31]
    val p50 = got(50L)
    assert(p50.getLong(1) === 30L && p50.getLong(2) === 15L)
    assert(p50.getLong(3) === 5L && p50.getLong(4) === 16L && p50.getLong(5) === 31L)
    assert(p50.getLong(6) === 10L && p50.getLong(7) === 20L) // bucket_docs, cum
    assert(p50.getLong(8) === 20L && p50.getLong(9) === 1L)  // exact, in_bounds
    // p90: rank=27 -> value 300 -> bucket 9 [256,511]
    val p90 = got(90L)
    assert(p90.getLong(2) === 27L && p90.getLong(3) === 9L)
    assert(p90.getLong(4) === 256L && p90.getLong(5) === 511L)
    assert(p90.getLong(8) === 300L && p90.getLong(9) === 1L)
  }

  test("error contract holds on a pseudo-random corpus") {
    val rnd = new scala.util.Random(7)
    val df = docs(Seq.fill(400)(rnd.nextInt(5000)): _*)
    Sampling.quantileSketch(df, Seq(1, 25, 50, 75, 90, 99, 100)).collect()
      .foreach { r =>
        val (lo, hi, exact, ok) =
          (r.getLong(4), r.getLong(5), r.getLong(8), r.getLong(9))
        assert(ok === 1L, s"exact $exact outside [$lo,$hi]")
        assert(exact >= lo && exact <= hi)
        assert(hi < 2L * math.max(lo, 1L), "relative-error bound broken")
      }
  }

  test("histograms merge by adding counts (mergeable-sketch property)") {
    val rnd = new scala.util.Random(11)
    val a = docs(Seq.fill(100)(rnd.nextInt(3000)): _*)
    val bLens = Seq.fill(130)(rnd.nextInt(3000))
    import spark.implicits._
    val b = bLens.zipWithIndex.map { case (n, i) => (1000L + i, "x" * n) }
      .toDF("doc_id", "text")
    val merged = hist(a.union(b))
    val added = (hist(a).keySet ++ hist(b).keySet).map { k =>
      k -> (hist(a).getOrElse(k, 0L) + hist(b).getOrElse(k, 0L))
    }.toMap
    assert(merged === added)
  }

  test("partition independence") {
    val rnd = new scala.util.Random(13)
    val lens = Seq.fill(200)(rnd.nextInt(4000))
    val one = Sampling.quantileSketch(docs(lens: _*).repartition(1))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val many = Sampling.quantileSketch(docs(lens: _*).repartition(7))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(one === many)
  }
}
