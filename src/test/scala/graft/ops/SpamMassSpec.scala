package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Spam mass ([[WebGraph.spamMass]]):
  *  - planted geometry: a link farm unreachable from the seed ring
  *    scores near 1000 permille, seed-ring pages score 0;
  *  - the arithmetic matches an independent JVM composition of the
  *    two collected rank tables (the components carry their own
  *    oracles);
  *  - bounds: 0 ≤ spam_mass_permille ≤ 1000 everywhere;
  *  - the two chains share one pass: fewer Spark jobs than the two
  *    ranks run one after the other.
  */
class SpamMassSpec extends AnyFunSuite with SparkSuite {

  /** A trusted ring t0->t1->t2->t0 (seeded at t0) plus a spam farm
    * f0..f3 all linking each other, with no path from the ring. */
  private def planted(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ring = Seq(("t0", "t1"), ("t1", "t2"), ("t2", "t0"))
    val farm = for {
      i <- 0 until 4; j <- 0 until 4 if i != j
    } yield (s"f$i", s"f$j")
    ((ring ++ farm).toDF("src", "dst"), Seq("t0").toDF("url"))
  }

  test("planted farm vs trusted ring, JVM replication, bounds") {
    val (edges, seeds) = planted()
    val rows = WebGraph.spamMass(edges, seeds).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    rows.values.foreach { case (_, _, m) => assert(m >= 0 && m <= 1000) }
    // farm pages: zero trust -> mass ~1000 (integer floor can shave 1)
    (0 until 4).foreach { i =>
      assert(rows(s"f$i")._2 == 0L)
      assert(rows(s"f$i")._3 >= 999L)
    }
    // ring pages carry trust: mass far below farm
    Seq("t0", "t1", "t2").foreach { u => assert(rows(u)._3 <= 500L, u) }
    // independent composition from the collected component outputs
    val pr = WebGraph.pageRankInt(edges, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tr = WebGraph.pageRankSeeded(edges, seeds, 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val div = 100000L
    val tp = pr.values.map(_ / div).sum
    val tt = tr.values.map(_ / div).sum
    rows.foreach { case (u, (prV, trV, m)) =>
      assert(prV == pr(u) && trV == tr(u))
      val p = prV / div; val t = trV / div
      val exp =
        if (p == 0 || p * tt <= t * tp) 0L
        else (p * tt - t * tp) * 1000 / (p * tt)
      assert(m == exp, u)
    }
  }

  test("both rank chains run in one pass: fewer jobs than the two ranks run apart") {
    val (edges, seeds) = planted()
    val sc = spark.sparkContext
    val (_, both) = graft.SparkJobs.during(sc)(WebGraph.spamMass(edges, seeds).collect())
    val (_, pr) = graft.SparkJobs.during(sc)(WebGraph.pageRankInt(edges, 5).collect())
    val (_, tr) = graft.SparkJobs.during(sc)(
      WebGraph.pageRankSeeded(edges, seeds, 5).collect())
    assert(both < pr + tr, s"spamMass ran $both jobs; pageRankInt $pr + pageRankSeeded $tr")
  }
}
