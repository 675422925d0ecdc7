package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Incremental chunk-store delta: brute-force replay from the chunk
  * tables, the zero-cost unchanged case, the append-resync saving
  * that motivates CDC stores, single-count ownership attribution, and
  * partition independence. */
class CdcDeltaSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  private def lorem(seed: Int, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("the", "crawl", "fetches", "page", "shell", "again",
      "header", "nav", "footer", "body", "copy", "snapshot")
    Iterator.continually(words(rnd.nextInt(words.size))).take(n).mkString(" ")
  }

  private def collectDelta(df: DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))).toMap

  test("matches a brute replay from the chunk tables") {
    val prev = docs((0 until 20).map(i =>
      (i.toLong, s"host${i % 3}", lorem(i, 80 + i))): _*)
    val cur = docs((0 until 24).map { i =>
      val base = lorem(i, 80 + i)
      val text = if (i >= 20) lorem(500 + i, 90)          // added docs
        else if (i % 4 == 0) base + " appended update"    // edited docs
        else base                                         // unchanged
      (i.toLong, s"host${i % 3}", text)
    }: _*)
    val got = collectDelta(Cdc.storeDelta(prev, cur))
    // brute: chunk both sides, mark membership, attribute ownership
    val storeFps = Cdc.chunks(prev.select("doc_id", "text")).collect()
      .map(_.getLong(4)).toSet
    val curCh = Cdc.chunks(cur.select("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val srcOf = cur.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = curCh.groupBy(c => srcOf(c._1)).map { case (src, cs) =>
      val newRefs = cs.filter(c => !storeFps.contains(c._4))
      src -> ((cs.length.toLong, cs.map(_._3).sum,
        newRefs.length.toLong, newRefs.map(_._3).sum, 0L, 0L))
    }
    // ownership: distinct new fps by min (doc_id, chunk_idx)
    val owned = curCh.filter(c => !storeFps.contains(c._4))
      .groupBy(_._4).map { case (_, cs) => cs.minBy(c => (c._1, c._2)) }
    val ownBySrc = owned.toSeq.groupBy(c => srcOf(c._1))
      .map { case (s, cs) => s -> ((cs.length.toLong, cs.map(_._3).sum)) }
    val expFull = exp.map { case (s, (a, b, c, d, _, _)) =>
      val (oc, ob) = ownBySrc.getOrElse(s, (0L, 0L))
      s -> ((a, b, c, d, oc, ob))
    }
    assert(got === expFull)
  }

  test("an unchanged snapshot stores nothing") {
    val snap = docs((0 until 10).map(i =>
      (i.toLong, "h", lorem(i, 100))): _*)
    collectDelta(Cdc.storeDelta(snap, snap)).values.foreach {
      case (_, _, nNew, newBytes, stored, storedBytes) =>
        assert(nNew === 0L && newBytes === 0L)
        assert(stored === 0L && storedBytes === 0L)
    }
  }

  test("a pure append stores only the re-cut tail (the CDC point)") {
    val base = lorem(42, 400)
    val prev = docs((0L, "h", base))
    val cur = docs((0L, "h", base + " v2"))
    val (_, refBytes, _, _, storedChunks, storedBytes) =
      collectDelta(Cdc.storeDelta(prev, cur))("h")
    // only chunks at/after the store's last boundary re-cut: the
    // append re-uses everything before it
    assert(storedChunks <= 2L, s"append stored $storedChunks chunks")
    assert(storedBytes < refBytes / 2, "append re-stored most of the doc")
  }

  test("a cross-source shared new chunk is stored exactly once") {
    val shared = lorem(7, 200)
    val prev = docs((0L, "a", lorem(8, 100)))
    val cur = docs((0L, "a", lorem(8, 100)),
      (1L, "a", shared), (2L, "b", shared))
    val got = collectDelta(Cdc.storeDelta(prev, cur))
    // every shared fp is owned by doc 1 (source a); source b stores 0
    assert(got("b")._5 === 0L && got("b")._6 === 0L)
    assert(got("a")._5 === got("b")._3) // a owns exactly b's new refs
  }

  test("partition independence") {
    val prev = docs((0 until 15).map(i =>
      (i.toLong, s"h${i % 4}", lorem(i, 120))): _*)
    val cur = docs((0 until 18).map(i =>
      (i.toLong, s"h${i % 4}",
        if (i % 2 == 0) lorem(i, 120) + " tail" else lorem(i, 120))): _*)
    val a = Cdc.storeDelta(prev.repartition(1), cur.repartition(1))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val b = Cdc.storeDelta(prev.repartition(5), cur.repartition(7))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a === b)
  }
}
