package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** HyperBall: the registers after r rounds must be EXACTLY the HLL
  * sketch of the exact r-ball — so per node, the engine's estimate
  * must bit-match an independently folded sketch of the BFS ball, and
  * exact_ball must match BFS. Hand graphs + a seeded random graph. */
class HyperBallSpec extends AnyFunSuite with SparkSuite {

  private def edges(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  /** Exact forward ball by BFS over the deduped self-loop-free graph. */
  private def ball(es: Seq[(String, String)], v: String, r: Int): Set[String] = {
    val adj = es.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    var reach = Set(v)
    for (_ <- 1 to r)
      reach = reach ++ reach.flatMap(u => adj.getOrElse(u, Set.empty))
    reach
  }

  /** Reference HLL estimate of a concrete member set — the same
    * regRank, dyadic fold (register-ordered), and alpha as the engine. */
  private def hllEstimate(members: Set[String], p: Int): Double = {
    val m = 1 << p
    val regs = members.toSeq.map(Cardinality.regRank(_, p))
      .groupBy(_._1).map { case (reg, xs) => reg -> xs.map(_._2).max }
    val s0 = regs.toSeq.sortBy(_._1)
      .foldLeft(0.0) { case (acc, (_, mx)) => acc + 1.0 / (1L << mx).toDouble }
    val s2 = s0 + (m - regs.size).toDouble
    val alphaNum = (0.7213 / (1.0 + 1.079 / m.toDouble)) * (m.toLong * m).toDouble
    alphaNum / s2
  }

  private def run(es: Seq[(String, String)], p: Int, r: Int): Map[String, (Double, Long)] =
    WebGraph.hyperBall(edges(es: _*), p, r).collect()
      .map(row => row.getString(0) -> ((row.getDouble(3), row.getLong(4)))).toMap

  test("chain: balls grow by one hop per round, sketch matches exact set") {
    // a -> b -> c -> d -> e
    val es = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val got = run(es, p = 4, r = 2)
    val expectBalls = Map("a" -> Set("a", "b", "c"), "b" -> Set("b", "c", "d"),
      "c" -> Set("c", "d", "e"), "d" -> Set("d", "e"), "e" -> Set("e"))
    assert(got.keySet === expectBalls.keySet)
    for ((v, b) <- expectBalls) {
      assert(got(v)._2 === b.size.toLong, s"exact ball of $v")
      assert(got(v)._1 === hllEstimate(b, 4), s"estimate of $v")
    }
  }

  test("cycle: after enough rounds every ball is the whole cycle") {
    val vs = (0 until 5).map(i => s"c$i")
    val es = vs.indices.map(i => (vs(i), vs((i + 1) % 5)))
    val got = run(es, p = 4, r = 4)
    for (v <- vs) {
      assert(got(v)._2 === 5L)
      assert(got(v)._1 === hllEstimate(vs.toSet, 4))
    }
  }

  test("direction matters: ball follows out-links only") {
    val es = Seq(("a", "b"), ("c", "b")) // b has no out-links
    val got = run(es, p = 4, r = 3)
    assert(got("b")._2 === 1L)
    assert(got("a")._2 === 2L && got("c")._2 === 2L)
  }

  test("seeded random graph: every node's sketch equals the BFS ball's sketch") {
    val rnd = new scala.util.Random(21)
    val es = (0 until 150).map { _ =>
      (s"v${rnd.nextInt(30)}", s"v${rnd.nextInt(30)}")
    }
    val got = run(es, p = 5, r = 3)
    assert(got.nonEmpty)
    for (v <- got.keys) {
      val b = ball(es, v, 3)
      assert(got(v)._2 === b.size.toLong, s"exact ball of $v")
      assert(got(v)._1 === hllEstimate(b, 5), s"estimate of $v")
    }
    // the sketch should be non-trivial: at least one node's estimate
    // differs from its exact size (collisions at p=5 on 30 nodes)
    assert(got.exists { case (_, (est, ex)) => math.abs(est - ex) > 1e-9 })
  }
}
