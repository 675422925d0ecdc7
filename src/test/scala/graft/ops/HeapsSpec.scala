package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Heaps-law vocabulary growth census: hand-computed expectations,
  * final-checkpoint totals ≡ corpus totals, monotone growth, interval
  * arithmetic at non-dividing bucket counts, partition independence. */
class HeapsSpec extends AnyFunSuite with SparkSuite {

  private def docs(texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("hand-computed census on 4 docs / 2 buckets") {
    // prefixes: k=1 -> docs {0,1} (ceil(4*1/2)=2), k=2 -> all 4
    val df = docs(
      "a b a",   // tokens a,b,a        -> 3 tokens, vocab {a,b}
      "b c",     // +2 tokens, +{c}
      "c d d",   // +3 tokens, +{d}
      "a")       // +1 token, +{}
    assert(rows(Sampling.heapsCensus(df, buckets = 2)) === Seq(
      (1L, 2L, 5L, 3L),
      (2L, 4L, 9L, 4L)))
  }

  test("ceil prefix arithmetic when buckets do not divide n") {
    // n=5, b=3: prefixes ceil(5/3)=2, ceil(10/3)=4, 5
    val df = docs("a", "b", "c", "d", "e")
    assert(rows(Sampling.heapsCensus(df, buckets = 3)) === Seq(
      (1L, 2L, 2L, 2L),
      (2L, 4L, 4L, 4L),
      (3L, 5L, 5L, 5L)))
  }

  test("last checkpoint equals the corpus totals; growth is monotone") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "qr", "st")
    val texts = (0 until 64).map(_ =>
      (0 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = docs(texts: _*)
    val got = rows(Sampling.heapsCensus(df, buckets = 8))
    assert(got.size === 8)
    val totalToks = texts.map(_.split("\\s+").count(_.nonEmpty)).sum
    val totalVocab = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty).distinct.size
    assert(got.last === ((8L, 64L, totalToks.toLong, totalVocab.toLong)))
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 < b._2 && a._3 <= b._3 && a._4 <= b._4)
    case _ => ()
    }
  }

  test("partition independence") {
    val texts = (0 until 40).map(i => s"tok${i % 7} tok${i % 3} common")
    val a = rows(Sampling.heapsCensus(docs(texts: _*).repartition(1), buckets = 4))
    val b = rows(Sampling.heapsCensus(docs(texts: _*).repartition(9), buckets = 4))
    assert(a === b)
  }
}
