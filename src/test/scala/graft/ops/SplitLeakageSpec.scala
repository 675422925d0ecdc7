package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Split-leakage census against hand-computed Knuth buckets:
  * key(id) = ((id mod 2^31)·2654435761) mod 2^32, bucket = key mod 10.
  * By hand: ids 0,1,2 -> buckets 0,1,6 (train); 6 -> 8 (val);
  * 9 -> 9 (test). */
class SplitLeakageSpec extends AnyFunSuite with SparkSuite {

  test("duplicates follow their cluster; naive straddles are counted") {
    import spark.implicits._
    // cluster {0, 6}: identical text, rep 0 -> split train for BOTH,
    //   though doc 6's own hash lands in val -> a naive straddle.
    // cluster {1}: train. cluster {9}: test.
    val docs = Seq(
      (0L, "same text"), (6L, "same text"),
      (1L, "unique one"), (9L, "unique two"))
      .toDF("doc_id", "text")
    val out = Sampling.splitLeakage(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      "train" -> ((3L, 2L, 1L)),
      "test" -> ((1L, 1L, 0L))))
  }

  test("by construction no cluster ever straddles the real split") {
    import spark.implicits._
    // 60 docs over 20 texts (3 dups each): every text's docs must all
    // land in the SAME split — per-(fp) distinct split count == 1
    val docs = (0L until 60L).map(i => (i, s"text ${i % 20}"))
      .toDF("doc_id", "text")
    val fp = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("fp"))
    val total = Sampling.splitLeakage(docs)
      .agg(org.apache.spark.sql.functions.sum("n_clusters")).collect()(0).getLong(0)
    // 20 distinct texts, each in exactly one split
    assert(total === 20L)
    val nDocs = Sampling.splitLeakage(docs)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()(0).getLong(0)
    assert(nDocs === 60L)
  }
}
