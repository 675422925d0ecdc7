package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Fuzzy (minhash) benchmark decontamination: planted lightly-edited
  * leakage is caught while unrelated docs are not, the cross-table
  * pipeline agrees with the self-join pipeline restricted to cross
  * pairs, and the result is partition-independent. */
class FuzzyDecontaminateSpec extends AnyFunSuite with SparkSuite {

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val benchText =
    "the quick brown fox jumps over the lazy dog while seventeen " +
      "researchers carefully measure benchmark accuracy on held out " +
      "questions about geography history and arithmetic reasoning tasks"

  private def randomText(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("crawl", "page", "shell", "nav", "footer", "copy",
      "snapshot", "header", "body", "widget", "template", "article")
    Iterator.continually(words(rnd.nextInt(words.size))).take(30).mkString(" ")
  }

  test("planted lightly-edited leakage is flagged; unrelated docs are not") {
    val bench = df(Seq(0L -> benchText, 1L -> randomText(1)))
    val leaked = benchText.replace("seventeen", "eighteen")
      .replace("arithmetic", "math")
    val corpus = df(Seq(100L -> leaked) ++ (101L to 130L).map(i => i -> randomText(i.toInt)))
    val got = Dedup.fuzzyDecontaminate(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.length === 1)
    val (docId, benchId, jac) = got.head
    assert(docId === 100L && benchId === 0L)
    assert(jac > 0.8 && jac < 1.0) // edited, so near but not equal
  }

  test("verbatim leakage is flagged at jaccard 1.0") {
    val bench = df(Seq(0L -> benchText))
    val corpus = df(Seq(50L -> benchText, 51L -> randomText(51)))
    val got = Dedup.fuzzyDecontaminate(corpus, bench).collect()
    assert(got.length === 1 && got.head.getDouble(3) === 1.0)
  }

  test("cross-table pipeline == self-join pipeline restricted to cross pairs") {
    val rnd = new scala.util.Random(29)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def text(): String =
      Iterator.continually(words(rnd.nextInt(words.size))).take(25).mkString(" ")
    val benchRows = (0L until 10L).map(i => i -> text())
    // plant edits of three benchmark docs among the corpus
    val corpusRows = (100L until 160L).map { i =>
      if (i % 20 == 0) {
        val src = benchRows(((i - 100) / 20).toInt)._2
        i -> src.replaceFirst("\\w+", "edited")
      } else i -> text()
    }
    val bench = df(benchRows)
    val corpus = df(corpusRows)
    val cross = Dedup.fuzzyDecontaminate(corpus, bench,
        estThreshold = 0.2, exactThreshold = 0.4)
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // self-join formulation over the union: bench ids < 100 < corpus
    val self = Dedup.minhashVerified(bench.union(corpus),
        estThreshold = 0.2, exactThreshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100L && b >= 100L }
      .map { case (a, b) => (b, a) }.toSet
    assert(cross === self)
    assert(cross.size >= 3) // the three planted edits all found
  }

  test("partition independence") {
    val bench = df(Seq(0L -> benchText))
    val corpus = df(Seq(100L -> benchText.replace("dog", "cat")) ++
      (101L to 140L).map(i => i -> randomText(i.toInt)))
    val a = Dedup.fuzzyDecontaminate(corpus.repartition(1), bench)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val b = Dedup.fuzzyDecontaminate(corpus.repartition(7), bench)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a === b)
  }
}
