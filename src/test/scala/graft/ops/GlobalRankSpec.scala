package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GlobalRank.positions]] against a brute-force running sum over the
  * collected rows. */
class GlobalRankSpec extends AnyFunSuite with SparkSuite {

  /** (g, key, id, w): three groups, keys with ties, weights 0..5. */
  private def rows(n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (r.nextInt(3), r.nextInt(40).toLong, i.toLong, r.nextInt(6).toLong))
      .toDF("g", "key", "id", "w")
  }

  /** id -> pos of `out`, after checking every pos against the exclusive
    * running sum of `w` within `g`, walked in (key, id) order. When the
    * order has ties (`ties`), tied rows may take either place, so the
    * walk follows the order the positions chose: (key, pos, w). */
  private def check(out: DataFrame, ties: Boolean = false): Map[Long, Long] = {
    import spark.implicits._
    val got = out.select("g", "key", "id", "w", "pos").as[(Int, Long, Long, Long, Long)].collect()
    for (run <- got.groupBy(_._1).values) {
      var acc = 0L
      for ((_, _, id, w, pos) <- run.sortBy(r => (r._2, if (ties) r._5 else r._3, r._4))) {
        assert(pos == acc, s"id $id")
        acc += w
      }
    }
    got.map(r => r._3 -> r._5).toMap
  }

  private val byKeyId = Seq(col("key"), col("id"))

  test("row number, weighted, grouped and 0/1-indicator positions match the running sum") {
    val df = rows(500, 1L)
    val one = df.withColumn("g", lit(0)).withColumn("w", lit(1L))
    assert(check(GlobalRank.positions(one, byKeyId, 7)).values.toSet == (0L until 500L).toSet)
    check(GlobalRank.positions(df, byKeyId, 7, weight = col("w"), group = col("g")))
    val flag = df.withColumn("g", lit(0)).withColumn("w", (col("w") > 2).cast("long"))
    check(GlobalRank.positions(flag, byKeyId, 7, weight = col("w")))
  }

  test("rows that tie in the order share their run of positions") {
    val df = rows(500, 2L)
    check(GlobalRank.positions(df, Seq(col("key")), 7, weight = col("w"), group = col("g")), ties = true)
  }

  test("positions do not depend on nPartitions, with empty partitions among them") {
    val df = rows(30, 3L)
    val at = Seq(1, 7, 64).map(p => check(GlobalRank.positions(df, byKeyId, p, weight = col("w"), group = col("g"))))
    assert(at.distinct.size == 1)
  }

  test("a coalesce(1) downstream keeps every partition's offset") {
    val df = rows(500, 4L)
    val out = GlobalRank.positions(df, byKeyId, 8, weight = col("w"), group = col("g")).coalesce(1)
    assert(out.rdd.getNumPartitions == 1)
    check(out)
  }

  test("the pinned layout is computed once across both passes") {
    val evals = spark.sparkContext.longAccumulator("pinned rows computed")
    val counted = udf { (w: Long) => evals.add(1L); w }
    val out = GlobalRank.positions(rows(400, 5L), byKeyId, 7, weight = counted(col("w")), group = col("g"))
    check(out)
    out.count()
    assert(evals.value == 400L)
  }
}
