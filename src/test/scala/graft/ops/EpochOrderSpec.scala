package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-epoch Feistel shuffle:
  *  - the 32-bit permutation is a BIJECTION (distinct keys on a dense
  *    id block, and a hand-written inverse round-trips every id);
  *  - positions are dense 0..N-1 within every epoch;
  *  - order is reproducible across partitioning choices (the whole
  *    point: any cluster size replays the identical epoch order);
  *  - different epochs give genuinely different orders;
  *  - a JVM replica of the engine's column arithmetic pins the key
  *    values themselves (guards the DuckDB oracle's closed form);
  *  - out-of-domain ids raise instead of silently aliasing.
  */
class EpochOrderSpec extends AnyFunSuite with SparkSuite {

  private def docs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, s"text $id")).toDF("doc_id", "text")
  }

  /** Independent JVM replica of the engine's Feistel arithmetic. */
  private def feistelJvm(id: Long, epoch: Long, seed: Long): Long = {
    var l = (id >> 16) & 0xFFFFL
    var r = id & 0xFFFFL
    for (rnd <- 0 until 3) {
      val base = ((seed + 1) * 2654435769L + rnd * 3266489917L) & 0xFFFFFFFFL
      val rk = (base + epoch * 2246822519L) & 0xFFFFFFFFL
      val f = ((r * 2654435761L + rk) & 0xFFFFFFFFL) >> 16
      val nr = (l + f) & 0xFFFFL
      l = r; r = nr
    }
    (l << 16) + r
  }

  /** Inverse permutation: undo the rounds in reverse. */
  private def feistelInvJvm(key: Long, epoch: Long, seed: Long): Long = {
    var l = (key >> 16) & 0xFFFFL
    var r = key & 0xFFFFL
    for (rnd <- (0 until 3).reverse) {
      val base = ((seed + 1) * 2654435769L + rnd * 3266489917L) & 0xFFFFFFFFL
      val rk = (base + epoch * 2246822519L) & 0xFFFFFFFFL
      // forward was: (L,R) -> (R, (L + F(R)) mod 2^16); so pre-round
      // R_prev = l, L_prev = (r - F(l)) mod 2^16
      val f = ((l * 2654435761L + rk) & 0xFFFFFFFFL) >> 16
      val pl = java.lang.Math.floorMod(r - f, 0x10000L)
      r = l; l = pl
    }
    (l << 16) + r
  }

  test("engine keys equal the JVM replica (oracle closed-form guard)") {
    val ids = Seq(0L, 1L, 7L, 65535L, 65536L, 123456789L, 4294967295L)
    val out = Sampling.epochOrder(docs(ids), epochs = 2, nPartitions = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (e <- 0 until 2; id <- ids)
      assert(out((e, id)) == feistelJvm(id, e, 17L), s"epoch=$e id=$id")
  }

  test("bijection: distinct keys on a dense block; inverse round-trips") {
    for (e <- 0L to 2L) {
      val keys = (0L until 4096L).map(feistelJvm(_, e, 17L))
      assert(keys.distinct.size == 4096)
      keys.zipWithIndex.foreach { case (k, id) =>
        assert(feistelInvJvm(k, e, 17L) == id.toLong)
      }
    }
  }

  test("positions dense 0..N-1 per epoch, ordered by key") {
    val ids = Seq(3L, 10L, 99L, 1000L, 123456L, 999999L, 42L)
    val rows = Sampling.epochOrder(docs(ids), epochs = 3, nPartitions = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == ids.length * 3)
    for (e <- 0 until 3) {
      val ep = rows.filter(_._1 == e).sortBy(_._4)
      assert(ep.map(_._4).toSeq == (0L until ids.length.toLong).toSeq)
      // position order IS key order
      assert(ep.map(_._3).toSeq == ep.map(_._3).sorted.toSeq)
    }
  }

  test("reproducible across partitioning (cluster-size invariance)") {
    val ids = (0L until 500L).map(_ * 7919L % 100000L).distinct
    val a = Sampling.epochOrder(docs(ids), epochs = 2, nPartitions = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = Sampling.epochOrder(docs(ids), epochs = 2, nPartitions = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("epochs give different orders") {
    val ids = (0L until 64L)
    val out = Sampling.epochOrder(docs(ids), epochs = 2, nPartitions = 3)
      .collect().map(r => (r.getInt(0), r.getLong(3), r.getLong(1)))
    val ord0 = out.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq
    val ord1 = out.filter(_._1 == 1).sortBy(_._2).map(_._3).toSeq
    assert(ord0.toSet == ord1.toSet)
    assert(ord0 != ord1, "epoch re-keying must change the order")
  }

  test("out-of-domain id raises instead of aliasing") {
    val bad = docs(Seq(1L, 1L << 32))
    val e = intercept[Exception] {
      Sampling.epochOrder(bad, epochs = 1, nPartitions = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("Feistel domain")))
  }
}
