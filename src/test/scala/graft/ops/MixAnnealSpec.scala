package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Two-phase mixture schedule against a fully hand-computed example:
  * quality buckets, both weight tables, and every Hamilton base/
  * remainder/extra below are worked by hand (independent ground
  * truth). */
class MixAnnealSpec extends AnyFunSuite with SparkSuite {

  // quality by hand (0.4·min(1,T/100) + 0.3·min(1,8·stop/T) + 0.3·(1−…)):
  //   hi : 30 tokens, all stopwords, no punct -> 0.12+0.3+0.3 = 0.72 (×3)
  //   lo : 4 punct-only tokens              -> 0.016           (×0)
  //   mid: 7 tokens, 3 stopwords, no punct  -> 0.028+0.3+0.3 = 0.628 (×1)
  private def docs() = {
    import spark.implicits._
    Seq(
      (0L, ("the of and to in is " * 5).trim, "hi"),
      (1L, "%%% ### !!! @@@", "lo"),
      (2L, "the cat sat on a mat today", "mid"))
      .toDF("doc_id", "text", "source")
  }

  test("hand-worked Hamilton at both phases (weights 30/4/7 and 90/0/7)") {
    val out = Sampling.mixAnneal(docs(), pretrainBudget = 10L,
      annealBudget = 5L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // pretrain, W=41, B=10: bases 7/0/1 (sum 8), R=2 -> remainders
    // 13/40/29: lo and mid get the extras
    assert(out(("pretrain", "hi")) === ((30L, 7L, 0L, 7L)))
    assert(out(("pretrain", "lo")) === ((4L, 0L, 1L, 1L)))
    assert(out(("pretrain", "mid")) === ((7L, 1L, 1L, 2L)))
    // anneal, W=97, B=5: bases 4/0/0 (sum 4), R=1 -> remainders
    // 62/0/35: hi takes the extra; lo is gated out entirely
    assert(out(("anneal", "hi")) === ((90L, 4L, 1L, 5L)))
    assert(out(("anneal", "lo")) === ((0L, 0L, 0L, 0L)))
    assert(out(("anneal", "mid")) === ((7L, 0L, 0L, 0L)))
  }

  test("sum(quota) == budget holds exactly per phase") {
    val out = Sampling.mixAnneal(docs(), 10L, 5L)
      .groupBy("phase").sum("quota").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("pretrain" -> 10L, "anneal" -> 5L))
  }

  test("pretrain phase equals crawlBudget (the shared Hamilton core)") {
    val a = Sampling.mixAnneal(docs(), 10L, 5L)
      .filter(org.apache.spark.sql.functions.col("phase") === "pretrain")
      .select("host", "tokens_w", "base", "extra", "quota")
      .collect().map(_.toSeq).toSet
    val b = Sampling.crawlBudget(docs(), 10L)
      .select("host", "tokens_w", "base", "extra", "quota")
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
