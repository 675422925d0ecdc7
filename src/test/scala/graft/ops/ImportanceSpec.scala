package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** DSIR-shaped importance weighting: bucket-count kernel vectors, an
  * INDEPENDENT plain-Scala replay of the whole weight algebra, a
  * planted target-affinity signal, and partition independence. */
class ImportanceSpec extends AnyFunSuite with SparkSuite {

  private def docs(rows: (Long, String, String)*): DataFrame = {
    val ss = spark
    import ss.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  // Independent replay: same contract, different code path (token
  // split via regex, counts via Scala Maps, no Spark).
  private def replay(rows: Seq[(Long, String, String)],
                     target: Set[String], b: Int,
                     k: Int): Seq[(Long, String, Long, Long)] = {
    def buckets(text: String): Seq[Int] =
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .map(t => (Dedup.hash64(t, 0, t.length) & (b - 1)).toInt)
    val all = rows.flatMap { case (_, _, tx) => buckets(tx) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tgt = rows.filter(r => target(r._2))
      .flatMap { case (_, _, tx) => buckets(tx) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rTot = all.values.sum
    val tTot = tgt.values.sum
    rows.flatMap { case (id, src, tx) =>
      val bs = buckets(tx)
      if (bs.isEmpty) None
      else {
        val tn = bs.map(x => tgt.getOrElse(x, 0L) + 1).sum
        val rn = bs.map(x => all(x) + 1).sum
        Some((id, src, tn * (rTot + b), rn * (tTot + b)))
      }
    }.sortBy { case (id, _, num, den) =>
      (-(num.toDouble / den.toDouble), id)
    }.take(k)
  }

  test("bucketCounts: counts sum to token count; same token same bucket") {
    val d = docs((1L, "src0", "alpha beta alpha"), (2L, "src1", "beta"))
    val out = Importance.bucketCounts(d, 256).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.filter(_._1 == 1L).map(_._3).sum == 3L)
    assert(out.filter(_._1 == 2L).map(_._3).sum == 1L)
    // "beta" hashes to the same bucket in both docs
    val beta1 = out.filter(t => t._1 == 1L && t._3 == 1L).map(_._2).toSet
    val beta2 = out.filter(_._1 == 2L).map(_._2).toSet
    assert(beta2.subsetOf(beta1))
  }

  test("engine matches the independent replay (num/den exact)") {
    val rows = Seq[(Long, String, String)](
      (1L, "src0", "wiki facts wiki science"),
      (2L, "src0", "science facts encyclopedia"),
      (3L, "src2", "spam casino spam pills"),
      (4L, "src2", "wiki science facts"),
      (5L, "src3", "casino pills offer"),
      (6L, "src3", "facts wiki encyclopedia science wiki"))
    val got = Importance
      .targetAffinity(docs(rows: _*), Seq("src0"), buckets = 256, k = 6)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = replay(rows, Set("src0"), 256, 6)
    assert(got.toSeq == want)
  }

  test("planted signal: target-vocabulary doc outranks off-target doc") {
    val rows = Seq[(Long, String, String)](
      (1L, "src0", "wiki facts science"),
      (2L, "src0", "wiki science encyclopedia"),
      (10L, "src5", "wiki facts science encyclopedia"), // pure target vocab
      (11L, "src5", "casino pills offer spam"))         // pure off-target
    val ranked = Importance
      .targetAffinity(docs(rows: _*), Seq("src0"), buckets = 256, k = 4)
      .collect().map(_.getLong(0))
    assert(ranked.indexOf(10L) < ranked.indexOf(11L))
  }

  test("partition independence") {
    val rows = (0L until 40L).map(i =>
      (i, s"src${i % 4}", s"tok${i % 7} tok${(i * 3) % 11} tok${i % 5}"))
    val d1 = docs(rows: _*).repartition(1)
    val d7 = docs(rows: _*).repartition(7)
    val a = Importance.targetAffinity(d1, Seq("src0", "src1"), 256, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    val b = Importance.targetAffinity(d7, Seq("src0", "src1"), 256, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(a == b)
  }

  test("empty target slice: smoothing keeps weights defined (tn = n_tok)") {
    val rows = Seq[(Long, String, String)]((1L, "srcX", "a b c"))
    val out = Importance.targetAffinity(docs(rows: _*), Seq("src0"), 256, 5)
      .collect()
    assert(out.length == 1)
    // t_f = 0 everywhere -> tn = sum(c*1) = 3; T = 0 -> den = rn*256
    assert(out(0).getLong(2) == 3L * (3L + 256L))
  }
}
