package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Rank-sum AUC against hand-computed expectations — the midrank
  * arithmetic, the pair-counting definition, and every expected value
  * below are worked by hand (independent ground truth). */
class AucSpec extends AnyFunSuite with SparkSuite {

  private def run(rows: Seq[(String, Double)])
      : Map[String, (Long, Long, Option[Double])] = {
    import spark.implicits._
    TextAnalysis.rankSumAuc(rows.toDF("source", "score"), "score", "source")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
  }

  test("ties across groups take midranks (hand-worked 5-row example)") {
    // A: 0.1, 0.3, 0.3   B: 0.3, 0.5
    // sorted: 0.1 (rank 1, 2·mid 2), 0.3×3 (ranks 2-4, 2·mid 6),
    //         0.5 (rank 5, 2·mid 10)
    // R2_A = 2+6+6 = 14 -> AUC_A = (14 − 3·4)/(2·3·2) = 1/6
    //   (pair check: only the two 0.3-vs-0.3 half-ties count: 1/6 ✓)
    // R2_B = 6+10 = 16  -> AUC_B = (16 − 2·3)/(2·2·3) = 5/6
    //   (complement: AUC_B = 1 − AUC_A ✓)
    val out = run(Seq(
      "A" -> 0.1, "A" -> 0.3, "A" -> 0.3, "B" -> 0.3, "B" -> 0.5))
    assert(out("A") === ((3L, 14L, Some(1.0 / 6.0))))
    assert(out("B") === ((2L, 16L, Some(5.0 / 6.0))))
  }

  test("perfect separation gives AUC 1 and 0; all-tied gives 0.5") {
    val sep = run(Seq("lo" -> 1.0, "lo" -> 2.0, "hi" -> 3.0, "hi" -> 4.0))
    assert(sep("hi")._3 === Some(1.0))
    assert(sep("lo")._3 === Some(0.0))
    val tied = run(Seq("x" -> 7.0, "x" -> 7.0, "y" -> 7.0))
    assert(tied("x")._3 === Some(0.5))
    assert(tied("y")._3 === Some(0.5))
  }

  test("a single group has no rest to rank against -> null AUC") {
    val out = run(Seq("only" -> 1.0, "only" -> 2.0))
    assert(out("only") === ((2L, 2L + 4L, None)))
  }

  test("three groups: one-vs-rest AUCs from first principles") {
    // A: 1, B: 2, C: 3 -> each AUC is pair-counting over 2 pairs:
    // A beats none (0), B beats one of two (0.5), C beats both (1)
    val out = run(Seq("A" -> 1.0, "B" -> 2.0, "C" -> 3.0))
    assert(out("A")._3 === Some(0.0))
    assert(out("B")._3 === Some(0.5))
    assert(out("C")._3 === Some(1.0))
  }
}
