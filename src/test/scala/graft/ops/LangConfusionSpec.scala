package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Confusion census over documents whose predictions are forced by
  * construction (marker-dense texts) — expectations worked by hand. */
class LangConfusionSpec extends AnyFunSuite with SparkSuite {

  test("cells, row totals and shares on a forced two-lang corpus") {
    import spark.implicits._
    val en = "the cat and the dog of the house is that with everything"
    val de = "der hund und die katze das haus ist mit allem der die das"
    // metadata says: 3 en docs (one of which READS German), 1 de doc
    val docs = Seq(
      (0L, en, "en"), (1L, en, "en"), (2L, de, "en"), (3L, de, "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out === Map(
      ("en", "en") -> ((2L, 3L, 2.0 / 3.0)),
      ("en", "de") -> ((1L, 3L, 1.0 / 3.0)),
      ("de", "de") -> ((1L, 1L, 1.0))))
  }

  test("empty text lands in the und column") {
    import spark.implicits._
    val docs = Seq((0L, "", "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langConfusion(docs).collect()
    assert(out.length === 1)
    assert(out(0).getString(1) === "und")
    assert(out(0).getDouble(4) === 1.0)
  }
}
