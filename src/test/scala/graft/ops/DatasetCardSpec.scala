package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Dataset card ([[TextAnalysis.datasetCard]]):
  *  - hand corpus: every cell hand-computed, incl. the duplicate
  *    census (two identical texts) and source concentration;
  *  - integer identities: tercile counts sum to n_docs,
  *    n_dup_docs = n_docs - n_distinct_texts.
  */
class DatasetCardSpec extends AnyFunSuite with SparkSuite {

  test("hand corpus card") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "sA", "the a of to in and or is the a of to in and or is"),
      (1L, "en", "sA", "the a of to in and or is the a of to in and or is"),
      (2L, "de", "sB", "x y z"),
      (3L, "fr", "sC", "w")
    ).toDF("doc_id", "lang", "source", "text")
    val r = TextAnalysis.datasetCard(docs).collect()(0)
    val m = r.getValuesMap[Long](Seq("n_docs", "n_tokens", "n_chars",
      "n_langs", "n_sources", "n_distinct_texts", "n_dup_docs",
      "top_source_tokens", "top_source_tokens_permille",
      "q_hi_docs", "q_mid_docs", "q_lo_docs"))
    assert(m("n_docs") == 4L)
    assert(m("n_tokens") == 16L + 16L + 3L + 1L)
    assert(m("n_langs") == 3L && m("n_sources") == 3L)
    assert(m("n_distinct_texts") == 3L && m("n_dup_docs") == 1L)
    assert(m("top_source_tokens") == 32L)
    assert(m("top_source_tokens_permille") == 32L * 1000 / 36L)
    assert(m("q_hi_docs") + m("q_mid_docs") + m("q_lo_docs") == 4L)
  }
}
