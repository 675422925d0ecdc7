package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** k-core peeling: known cores (K4 + pendant, cascading tail),
  * multi-round cascades, empty cores, and a seeded random-graph
  * cross-check against brute-force peeling. */
class KCoreSpec extends AnyFunSuite with SparkSuite {

  private def edges(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def run(d: DataFrame, k: Int): Map[String, Long] =
    WebGraph.kCore(d, k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Reference peeling on an in-memory undirected edge set. */
  private def brute(es: Set[(String, String)], k: Int): Map[String, Long] = {
    var live = es
    var changed = true
    while (changed) {
      val deg = live.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, xs) => v -> xs.size }
      val keep = deg.collect { case (v, d) if d >= k => v }.toSet
      val next = live.filter { case (a, b) => keep(a) && keep(b) }
      changed = next != live
      live = next
    }
    live.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
  }

  test("K4 with a pendant: 3-core keeps K4, drops the pendant") {
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"))
    val d = edges((k4 :+ (("d", "e"))): _*)
    assert(run(d, 3) === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("cascading tail peels over multiple rounds (k=2)") {
    // triangle x-y-z plus a path z-p1-p2-p3: each round exposes the
    // next path node, so the fixpoint needs 3 removal rounds
    val d = edges(("x", "y"), ("y", "z"), ("z", "x"),
      ("z", "p1"), ("p1", "p2"), ("p2", "p3"))
    assert(run(d, 2) === Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
  }

  test("cascade property: triangle + pendant path of every length 1..10 (k=2)") {
    // kCore peels three times per barrier: lengths 1..3*3+1 end the
    // cascade at every position inside a batch, including the last
    // peel of one (L = 4, 7), where a batch-start state still holds
    // the path's first node
    val tri = Seq(("x", "y"), ("y", "z"), ("z", "x"))
    val wrong = (1 to 10).flatMap { n =>
      val path = ("z" +: (1 to n).map(i => s"p$i")).sliding(2).map(p => (p(0), p(1))).toSeq
      val expect = brute((tri ++ path).map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet, 2)
      assert(expect === Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
      val got = run(edges(tri ++ path: _*), 2)
      if (got == expect) None else Some(s"length $n: $got")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("a graph below k everywhere has an empty core") {
    assert(run(edges(("a", "b"), ("b", "c"), ("c", "d")), 2).isEmpty)
  }

  test("seeded random graph matches brute-force peeling (k=3)") {
    val rnd = new scala.util.Random(13)
    val es = (0 until 250).map { _ =>
      (s"v${rnd.nextInt(35)}", s"v${rnd.nextInt(35)}")
    }
    val und = es.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a)
    }.toSet
    val expect = brute(und, 3)
    assert(expect.nonEmpty, "fixture should have a non-empty 3-core")
    assert(run(edges(es: _*), 3) === expect)
  }
}
