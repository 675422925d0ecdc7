package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Degree-ordered triangle counting: exact counts on known graphs
  * (K4, bowtie), invariance to edge direction/duplication/self-loops,
  * and a seeded random-graph cross-check against brute force. */
class TrianglesSpec extends AnyFunSuite with SparkSuite {

  private def edges(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def run(d: DataFrame): Map[String, Long] =
    WebGraph.triangles(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("K4: every vertex sits in 3 of the 4 triangles") {
    val vs = Seq("a", "b", "c", "d")
    val d = edges(vs.combinations(2).map { case Seq(x, y) => (x, y) }.toSeq: _*)
    assert(run(d) === vs.map(_ -> 3L).toMap)
  }

  test("bowtie: apex in both triangles, wings in one each") {
    val d = edges(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e"), ("e", "c"))
    assert(run(d) === Map("a" -> 1L, "b" -> 1L, "c" -> 2L,
      "d" -> 1L, "e" -> 1L))
  }

  test("direction, duplicates, and self-loops don't change the graph") {
    val clean = edges(("a", "b"), ("b", "c"), ("c", "a"))
    val noisy = edges(("a", "b"), ("b", "a"), ("a", "b"), // dup + reversed
      ("b", "c"), ("c", "a"), ("a", "a"), ("c", "c"))     // self-loops
    assert(run(noisy) === run(clean))
    assert(run(clean) === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangle-free graphs emit nothing") {
    assert(run(edges(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))).isEmpty)
  }

  test("seeded random graph matches brute-force enumeration") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val es = (0 until 300).map { _ =>
      (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")
    }
    val und = es.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a)
    }.toSet
    val vs = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val counts = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for {
      i <- vs.indices; j <- (i + 1) until vs.length; k <- (j + 1) until vs.length
      if und((vs(i), vs(j))) && und((vs(j), vs(k))) && und((vs(i), vs(k)))
    } { counts(vs(i)) += 1; counts(vs(j)) += 1; counts(vs(k)) += 1 }
    assert(counts.nonEmpty, "fixture should contain triangles")
    assert(run(edges(es: _*)) === counts.toMap)
  }
}
