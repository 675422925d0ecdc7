package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-quality census ([[Sampling.shuffleAdjacency]]):
  *  - a source-SORTED corpus reads ~1000 permille in the natural
  *    baseline and collapses toward the random-mix level after the
  *    Feistel shuffle;
  *  - counts are exact: n_adjacent = n-1 for the baseline and per
  *    epoch (dense positions);
  *  - a JVM replication from the collected epochOrder output matches
  *    the census.
  */
class ShuffleAdjacencySpec extends AnyFunSuite with SparkSuite {

  test("sorted corpus collapses after shuffling; exact replication") {
    import spark.implicits._
    val n = 400
    // source-sorted: docs 0..99 src0, 100..199 src1, ...
    val docs = (0L until n.toLong)
      .map(i => (i, s"src${i / 100}", "text")).toDF("doc_id", "source", "text")
    val rows = Sampling.shuffleAdjacency(docs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // baseline: 399 adjacencies, only 3 cross-source boundaries
    assert(rows(-1) == ((399L, 396L, 396L * 1000 / 399)))
    // shuffled epochs: dense positions -> n-1 adjacencies; same-source
    // rate near the random-mix level (1/4), far below sorted
    (0 to 2).foreach { e =>
      val (na, ns, _) = rows(e)
      assert(na == 399L, s"epoch $e")
      assert(ns < 200L, s"epoch $e same-source $ns not broken up")
    }
    // JVM replication from the collected order
    val ord = Sampling.epochOrder(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    val srcOf = (0L until n.toLong).map(i => i -> (i / 100)).toMap
    (0 to 2).foreach { e =>
      val seq = ord.filter(_._1 == e).sortBy(_._3).map(t => srcOf(t._2))
      val same = seq.sliding(2).count(p => p(0) == p(1))
      assert(rows(e)._2 == same.toLong, s"epoch $e")
    }
  }
}
