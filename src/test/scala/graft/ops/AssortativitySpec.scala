package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Degree-assortativity statistics ([[WebGraph.assortativity]]):
  *  - hand-computed moments on a 4-edge star + chain graph;
  *  - Cauchy-Schwarz sanity: cov_n² ≤ varx_n·vary_n on a
  *    pseudo-random graph (|r| ≤ 1), and moments match an independent
  *    JVM brute force;
  *  - planted sign: a hub fan-out (every edge from one hub to fresh
  *    leaves) has varx_n = 0 — degenerate constant x — while a
  *    two-hub mutual clique is assortative (cov_n > 0);
  *  - duplicate and self-loop edges are dropped before counting.
  */
class AssortativitySpec extends AnyFunSuite with SparkSuite {

  private def edges(es: Seq[(String, String)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  private def stats(es: Seq[(String, String)]): Seq[Long] =
    WebGraph.assortativity(edges(es)).collect()(0)
      .toSeq.map(_.asInstanceOf[Long])

  private def brute(es: Seq[(String, String)]): Seq[Long] = {
    val e = es.filter(p => p._1 != p._2).distinct
    val outd = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val ind = e.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val xs = e.map { case (u, v) => (outd(u), ind(v)) }
    val n = xs.size.toLong
    val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val sxy = xs.map(p => p._1 * p._2).sum
    val sx2 = xs.map(p => p._1 * p._1).sum
    val sy2 = xs.map(p => p._2 * p._2).sum
    Seq(n, sx, sy, sxy, sx2, sy2,
      n * sxy - sx * sy, n * sx2 - sx * sx, n * sy2 - sy * sy)
  }

  test("hand-computed star + chain") {
    // a->b, a->c, b->c, c->d: out a=2,b=1,c=1; in b=1,c=2,d=1
    // edges (x,y): (2,1) (2,2) (1,2) (1,1)
    // n=4 sx=6 sy=6 sxy=2+4+2+1=9 sx2=4+4+1+1=10 sy2=1+4+4+1=10
    // cov_n=36-36=0 varx_n=40-36=4 vary_n=4
    val got = stats(Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")))
    assert(got == Seq(4L, 6L, 6L, 9L, 10L, 10L, 0L, 4L, 4L))
  }

  test("dedup + self-loop drop, brute-force equality, Cauchy-Schwarz") {
    val rnd = (0 until 300).map { i =>
      var z = i.toLong * 0x9e3779b97f4a7c15L + 11L
      z ^= z >>> 30; z *= 0x94d049bb133111ebL; z ^= z >>> 27
      (s"n${math.floorMod(z, 40L)}", s"n${math.floorMod(z >>> 8, 40L)}")
    }
    val withJunk = rnd ++ rnd.take(50) ++ Seq(("n1", "n1"), ("n2", "n2"))
    val got = stats(withJunk)
    assert(got == brute(withJunk))
    val (cov, vx, vy) = (got(6), got(7), got(8))
    assert(cov * cov <= vx * vy)
  }

  test("planted sign: hub fan-out is degenerate, mutual clique assortative") {
    val hub = (0 until 10).map(i => ("hub", s"leaf$i"))
    val gotHub = stats(hub)
    assert(gotHub(7) == 0L) // constant x = 10 -> varx_n = 0
    // two hubs linking each other's pages repeatedly: high-degree
    // sources point at high-degree targets
    val clique = Seq(("h1", "h2"), ("h2", "h1"), ("h1", "h3"), ("h2", "h3"),
      ("h3", "h1"), ("h3", "h2"), ("a", "b"))
    val gotC = stats(clique)
    assert(gotC(6) > 0L, s"expected assortative, got ${gotC(6)}")
  }
}
