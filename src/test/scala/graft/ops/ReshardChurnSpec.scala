package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Consistent-hash resharding census:
  *  - the packed-ring binary-search owner equals an independent naive
  *    "first vh >= pt else global-min, ties by (shard, vnode)" scan —
  *    including wrap points beyond the largest vnode hash;
  *  - ring churn when 8 -> 10 shards is near the ideal 1 - 8/10, and
  *    decisively below mod-N churn (the op's whole point);
  *  - the census row invariants hold (n_docs, load bounds);
  *  - determinism across partitioning.
  */
class ReshardChurnSpec extends AnyFunSuite with SparkSuite {

  /** Independent naive owner: linear scan over (vh, shard, vnode)
    * tuples — no packing, no binary search. */
  private def naiveOwner(nShards: Int, vnodes: Int, pt: Long): Int = {
    val all = for (s <- 0 until nShards; v <- 0 until vnodes)
      yield (Sampling.vnodeHash(s, v), s, v)
    val sorted = all.sortBy(identity)
    sorted.find(_._1 >= pt).getOrElse(sorted.head)._2
  }

  test("packed binary-search owner == naive scan, incl. wrap") {
    val ring = Sampling.packedRing(10, 64)
    val maxVh = ring.map(_ >> 20).max
    val probes = Seq(0L, 1L, 12345L, 0x7FFFFFFFL, 0xFFFFFFFFL,
      maxVh, maxVh + 1, (maxVh + 7) & 0xFFFFFFFFL) ++
      (1 to 200).map(i => (i * 2654435761L) & 0xFFFFFFFFL)
    probes.foreach { pt =>
      assert(Sampling.ringOwner(ring, pt) == naiveOwner(10, 64, pt),
        s"pt=$pt")
    }
    // wrap semantics pinned explicitly: beyond the last vnode the
    // owner is the globally smallest vnode's shard
    assert(Sampling.ringOwner(ring, maxVh + 1) ==
      ((ring.head >> 12) & 0xFFL).toInt)
  }

  test("ring churn near ideal 1 - nOld/nNew and far below mod churn") {
    import spark.implicits._
    val docs = (0L until 4000L).map(i => (i, "t")).toDF("doc_id", "text")
    val out = Sampling.reshardChurn(docs, nOld = 8, nNew = 10, vnodes = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nDocsRing, _, ringPm) = out("ring")
    val (nDocsMod, _, modPm) = out("mod")
    assert(nDocsRing == 4000 && nDocsMod == 4000)
    // ideal ring churn = 200 permille; vnode placement variance gives
    // a band. mod churn is ~900 permille (stays only when pt%8==pt%10
    // i.e. pt%40 in a 4/40 slice).
    assert(ringPm > 80 && ringPm < 400, s"ring churn $ringPm")
    assert(modPm > 700, s"mod churn $modPm")
    assert(ringPm * 2 < modPm, "ring must move far fewer docs than mod")
  }

  test("census invariants and determinism across partitioning") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i * 7919L, "t")).toDF("doc_id", "text")
    val a = Sampling.reshardChurn(docs.repartition(2)).collect()
      .map(_.toSeq).toSet
    val b = Sampling.reshardChurn(docs.repartition(13)).collect()
      .map(_.toSeq).toSet
    assert(a == b)
    a.foreach { r =>
      val (n, moved, maxL, minL) = (r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Long], r(4).asInstanceOf[Long],
        r(5).asInstanceOf[Long])
      assert(n == 1000 && moved >= 0 && moved <= n)
      assert(minL >= 1 && maxL >= minL && maxL <= n)
    }
  }
}
