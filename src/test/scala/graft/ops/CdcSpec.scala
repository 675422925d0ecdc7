package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Gear-hash CDC: tiling cover, length bounds, fingerprint contract,
  * duplicate-document census arithmetic, the shift-resynchronization
  * property that justifies CDC over fixed blocks, and partition
  * independence. */
class CdcSpec extends AnyFunSuite with SparkSuite {

  private def docs(texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).sortBy(r => (r._1, r._2)).toSeq

  private def lorem(seed: Int, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("the", "crawl", "fetches", "page", "shell", "again",
      "header", "nav", "footer", "body", "copy", "snapshot")
    Iterator.continually(words(rnd.nextInt(words.size)))
      .take(n).mkString(" ")
  }

  test("chunks tile each document exactly and respect length bounds") {
    val df = docs(lorem(1, 120), lorem(2, 40), "x")
    val got = rows(Cdc.chunks(df, minLen = 16, maxLen = 128, maskBits = 5))
    val lens = df.collect().map(r => r.getLong(0) -> r.getString(1).length).toMap
    got.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 === 0L, s"doc $id starts at 0")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 + a._4 === b._3, s"doc $id gap/overlap")
        case _ => ()
      }
      assert(sorted.last._3 + sorted.last._4 === lens(id).toLong, s"doc $id end")
      // every chunk but the last obeys min/max; the last only max
      sorted.init.foreach(c => assert(c._4 >= 16 && c._4 <= 128))
      assert(sorted.last._4 <= 128)
    }
  }

  test("fingerprint is splitmix64(FNV-1a) of the chunk text") {
    val text = lorem(3, 80)
    val got = rows(Cdc.chunks(docs(text)))
    got.foreach { case (_, _, start, len, fp) =>
      val s = start.toInt; val e = s + len.toInt
      assert(fp === Dedup.mix64(Dedup.hash64(text, s, e)))
    }
  }

  test("identical documents share every fingerprint; census counts them") {
    val t = lorem(4, 150)
    val df = docs(t, t, lorem(5, 60))
    val ch = rows(Cdc.chunks(df))
    val c0 = ch.filter(_._1 == 0L).map(c => (c._2, c._3, c._4, c._5))
    val c1 = ch.filter(_._1 == 1L).map(c => (c._2, c._3, c._4, c._5))
    assert(c0 === c1)
    val census = Cdc.dedupCensus(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    c0.foreach { case (_, _, len, fp) =>
      val (cl, copies, nd, bytes) = census(fp)
      assert(copies >= 2L && nd >= 2L && cl === len && bytes === (copies - 1) * len)
    }
  }

  test("boundaries resynchronize after an insertion (the point of CDC)") {
    val base = lorem(6, 400)
    val edited = base.substring(0, 10) + "INSERTED " + base.substring(10)
    val a = rows(Cdc.chunks(docs(base)))
    val b = rows(Cdc.chunks(docs(edited)))
    // compare fingerprints by content: the suffix far past the edit
    // must chunk identically (same fps), only shifted by 9 chars
    val aFps = a.map(_._5).toSet
    val shared = b.map(_._5).count(aFps.contains)
    assert(shared >= b.size / 2,
      s"only $shared of ${b.size} chunks resynced — CDC broken")
    // and the LAST chunks agree exactly (full resync reached)
    assert(a.last._5 === b.last._5)
  }

  test("partition independence") {
    val texts = (0 until 30).map(i => lorem(100 + i, 100 + i))
    val a = rows(Cdc.chunks(docs(texts: _*).repartition(1)))
    val b = rows(Cdc.chunks(docs(texts: _*).repartition(7)))
    assert(a === b)
  }
}
