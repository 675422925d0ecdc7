package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-size histogram ([[Dedup.clusterStats]]):
  *  - hand survivor table: sizes 1,1,1,2,4,5 bucket to
  *    1 (x3), 2 (x1), 3 (x2) with correct doc sums / maxes / witnesses;
  *  - totals identity: sum(n_docs) == input rows.
  */
class ClusterStatsSpec extends AnyFunSuite with SparkSuite {

  test("hand histogram + totals identity") {
    import spark.implicits._
    // reps: 10 (size 1), 11 (1), 12 (1), 20 (2), 30 (4), 40 (5)
    val surv = (Seq(10L, 11L, 12L) ++ Seq.fill(2)(20L) ++
      Seq.fill(4)(30L) ++ Seq.fill(5)(40L))
      .zipWithIndex.map { case (rep, i) => (i.toLong, rep) }
      .toDF("doc_id", "rep_id")
    val got = Dedup.clusterStats(surv).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got(1L) == ((3L, 3L, 1L, 10L))) // sizes 1: bin length 1
    assert(got(2L) == ((1L, 2L, 2L, 20L))) // size 2: '10'
    assert(got(3L) == ((2L, 9L, 5L, 30L))) // sizes 4,5: '100'/'101'
    assert(got.values.map(_._2).sum == 14L)
  }
}
