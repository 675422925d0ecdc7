package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batched fixpoint driver: it returns the batch end that passed
  * the test, batching does not change the fixpoint, one budget is
  * shared by every loop of an operator, and running out of it throws,
  * both in the helper and in each operator that uses it. */
class FixpointSpec extends AnyFunSuite with SparkSuite {

  private def xs(vals: Long*): DataFrame = {
    import spark.implicits._
    vals.toDF("x")
  }

  private def values(d: DataFrame): Seq[Long] = d.collect().map(_.getLong(0)).toSeq.sorted

  private val countDown: DataFrame => DataFrame =
    _.select(greatest(col("x") - 1L, lit(0L)).as("x"))

  private def total(d: DataFrame): Long = d.agg(sum(col("x"))).collect()(0).getLong(0)

  test("a step that never converges throws, naming the operator and the budget") {
    var barriers = 0
    val e = intercept[IllegalStateException] {
      new Fixpoint("grow", budget = 4, hops = 2)
        .stable(xs(1L, 2L))(_.select((col("x") + 1L).as("x"))) { d => barriers += 1; total(d) }
    }
    assert(e.getMessage.contains("grow") && e.getMessage.contains("4"), e.getMessage)
    assert(barriers == 4)
  }

  test("hops = 1 and hops = 3 reach the same state") {
    val start = xs(0L, 3L, 7L, 11L)
    def at(hops: Int) = values(new Fixpoint("countDown", 20, hops).stable(start)(countDown)(total))
    assert(at(1) == Seq(0L, 0L, 0L, 0L))
    assert(at(3) == at(1))
  }

  test("returns the batch end, not the batch start") {
    val end = new Fixpoint("countDown", 1, hops = 3).run(xs(10L, 20L))(countDown)((_, _) => true)
    assert(values(end) == Seq(7L, 17L))
    // a test that passes at the second barrier: the second batch's end,
    // not the first's
    var calls = 0
    val second = new Fixpoint("countDown", 5, hops = 3)
      .run(xs(10L, 20L))(countDown) { (_, _) => calls += 1; calls == 2 }
    assert(values(second) == Seq(4L, 14L))
  }

  test("one instance's budget is shared by every loop it runs") {
    val fp = new Fixpoint("shared", budget = 3, hops = 1)
    // 1 -> 0, then 0 repeats: two barriers
    assert(values(fp.stable(xs(1L))(countDown)(total)) == Seq(0L))
    val e = intercept[IllegalStateException](fp.stable(xs(1L))(countDown)(total))
    assert(e.getMessage.contains("shared") && e.getMessage.contains("3"), e.getMessage)
  }

  test("kCore, stronglyConnected and components throw when their budget runs out") {
    import spark.implicits._
    // triangle + a 10-node pendant path: 10 peels, four 3-peel barriers
    // plus the one that sees the count repeat
    val path = ("z" +: (1 to 10).map(i => s"p$i")).sliding(2).map(p => (p(0), p(1))).toSeq
    val tri = Seq(("x", "y"), ("y", "z"), ("z", "x"))
    val k = intercept[IllegalStateException] {
      WebGraph.kCore((tri ++ path).toDF("src", "dst"), k = 2, maxIter = 2).collect()
    }
    assert(k.getMessage.contains("kCore") && k.getMessage.contains("2"), k.getMessage)
    assert(WebGraph.kCore((tri ++ path).toDF("src", "dst"), k = 2, maxIter = 5)
      .collect().map(_.getString(0)).toSet == Set("x", "y", "z"))

    // a 13-node directed path trims from both ends, one node per step
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("src_id", "dst_id")
    val scc = intercept[IllegalStateException] {
      WebGraph.stronglyConnected(chain, maxIter = 2, driverEdgeGate = 0L).collect()
    }
    assert(scc.getMessage.contains("stronglyConnected") && scc.getMessage.contains("2"), scc.getMessage)

    // the 300-hop path needs 10 star-contraction rounds
    val pairs = (0L until 300L).map(i => (i + 1, i)).toDF("a_id", "b_id")
    val cc = intercept[IllegalStateException] {
      Dedup.components(pairs, maxIter = 2, driverSolveMaxEdges = 0L).collect()
    }
    assert(cc.getMessage.contains("components") && cc.getMessage.contains("2"), cc.getMessage)
  }
}
