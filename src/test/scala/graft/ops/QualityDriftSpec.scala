package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality drift ([[TextAnalysis.qualityDrift]]):
  *  - identical snapshots give TV = 0 (bucket splits equal);
  *  - an independent JVM replication of the snapshot rules, the
  *    shared quality formula (via collected withQuality output), the
  *    bucket fold and the TV algebra matches the engine end to end;
  *  - share arithmetic holds per row (n*1000 div total).
  */
class QualityDriftSpec extends AnyFunSuite with SparkSuite {

  private def corpus(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).map { i =>
      val len = 5 + (i * 13 % 120).toInt
      val words = (0 until len).map { j =>
        if (j % 4 == 0) "the" else s"w${(i + j) % 50}"
      }
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("engine matches an independent JVM replication") {
    val docs = corpus(140)
    val got = TextAnalysis.qualityDrift(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // independent replication: collect per-doc quality from the
    // component transform (its own oracle-checked surface), then fold
    val q = TextAnalysis.withQuality(docs.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.length - 1)).toMap
    val qCur = TextAnalysis.withQuality(docs
        .select(col("doc_id"), when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.length - 1)).toMap
    def bucket(d: Double): Long = math.min(math.floor(d * 10).toLong, 9L)
    val prevB = (0L until 140L).filter(_ % 5 != 0)
      .groupBy(i => bucket(q(i))).map { case (b, v) => b -> v.size.toLong }
    val curB = (0L until 140L).filter(_ % 7 != 0)
      .groupBy(i => bucket(qCur(i))).map { case (b, v) => b -> v.size.toLong }
    val allB = (prevB.keySet ++ curB.keySet)
    val tp = prevB.values.sum
    val tc = curB.values.sum
    val tvNum = allB.toSeq.map { b =>
      math.abs(prevB.getOrElse(b, 0L) * tc - curB.getOrElse(b, 0L) * tp)
    }.sum
    val tv = tvNum * 500L / (tp * tc)
    assert(got.keySet == allB)
    allB.foreach { b =>
      val (np, nc) = (prevB.getOrElse(b, 0L), curB.getOrElse(b, 0L))
      assert(got(b) == ((np, nc, np * 1000 / tp, nc * 1000 / tc, tv)), s"b=$b")
    }
  }

  test("identical snapshots would give tv 0 on equal splits") {
    // degenerate: all docs identical text -> single bucket both sides
    import spark.implicits._
    val docs = (0L until 70L).map(i => (i, "the a of to in and or is " * 5))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.qualityDrift(docs).collect()
    assert(rows.length == 1)
    // one bucket on each side: |np*tc - nc*tp| = 0 -> tv = 0
    assert(rows(0).getLong(5) == 0L)
  }
}
