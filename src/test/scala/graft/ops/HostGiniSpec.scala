package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Gini concentration against hand-computed values, cross-checked via
  * the independent pairwise-difference definition
  * G = Σᵢⱼ|xᵢ−xⱼ| / (2n²μ). */
class HostGiniSpec extends AnyFunSuite with SparkSuite {

  /** One doc per (host, tokenCount) — token counts are word counts. */
  private def docsWith(masses: (String, Int)*) = {
    import spark.implicits._
    masses.zipWithIndex.map { case ((h, m), i) =>
      (i.toLong, Seq.fill(m)("tok").mkString(" "), h)
    }.toDF("doc_id", "text", "source")
  }

  private def gini(masses: (String, Int)*): (Long, Long, Long, Double) = {
    val r = HostProfile.hostGini(docsWith(masses: _*)).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  test("hand-worked [1,1,2]: ranks 1,2,3 -> A=9, G=1/6") {
    // pairwise check: sum|xi-xj| over all ordered pairs = 4;
    // 2n^2*mu = 2*9*(4/3) = 24; 4/24 = 1/6
    assert(gini("a" -> 1, "b" -> 1, "c" -> 2) ===
      ((3L, 4L, 9L, 1.0 / 6.0)))
  }

  test("equal masses -> 0; single host -> 0; max concentration -> (n-1)/n") {
    assert(gini("a" -> 5, "b" -> 5, "c" -> 5)._4 === 0.0)
    assert(gini("only" -> 7)._4 === 0.0)
    // [1,1,100]-ish extreme: with x=[1,1,98], A = 1+2+294 = 297,
    // B=100, n=3 -> (594-400)/300 = 194/300
    assert(gini("a" -> 1, "b" -> 1, "c" -> 98)._4 === 194.0 / 300.0)
  }

  test("multi-doc hosts aggregate before ranking") {
    // host c = two docs of 1 token -> mass 2; same as the first case
    val out = gini("a" -> 1, "b" -> 1, "c" -> 1, "c" -> 1)
    // masses [1,1,2] again, but n_hosts counts HOSTS
    assert(out === ((3L, 4L, 9L, 1.0 / 6.0)))
  }
}
