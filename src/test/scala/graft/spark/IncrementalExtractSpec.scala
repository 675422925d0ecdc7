package graft.spark

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental extraction between crawl snapshots: hand-computed
  * worklist classification, and the invariant that incremental output
  * is bit-identical to full extraction restricted to the worklist. */
class IncrementalExtractSpec extends AnyFunSuite with SparkSuite {

  private def snap(ids: Range, seedOf: Long => Long): DataFrame = {
    import spark.implicits._
    spark.range(ids.start, ids.end, 1, 4).map { id =>
      (s"https://host$id.example/doc$id", PagesGen.payload(id, seedOf(id))._1)
    }.toDF("url", "html")
  }

  // prev = 0..59 @seed42; cur = 20..79, multiples of 3 re-seeded (changed)
  private lazy val prev = snap(0 until 60, _ => 42L)
  private lazy val cur = snap(20 until 80, id => if (id % 3 == 0) 43L else 42L)

  test("worklist classification matches hand-computed sets") {
    val m = ExtractJob.incrementalWorklist(prev, cur).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def url(i: Int) = s"https://host$i.example/doc$i"
    val removed = (0 until 20).map(url).toSet
    val added = (60 until 80).map(url).toSet
    val changed = (20 until 60).filter(_ % 3 == 0).map(url).toSet // 21..57: 13 urls
    val unchanged = (20 until 60).filterNot(_ % 3 == 0).map(url).toSet
    assert(m.filter(_._2 == "removed").keySet == removed)
    assert(m.filter(_._2 == "added").keySet == added)
    assert(m.filter(_._2 == "changed").keySet == changed)
    assert(m.filter(_._2 == "unchanged").keySet == unchanged)
    assert(changed.size == 13 && m.size == 80) // union of 0..79
  }

  test("incremental output == full extraction restricted to the worklist") {
    val cfg = ExtractJob.Config(salt = false)
    val inc = ExtractJob.extractIncremental(prev, cur, cfg).toDF()
      .select(col("url"), col("status"), col("n_pages"), col("n_spans"),
        xxhash64(col("text")).as("h"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val work = ExtractJob.incrementalWorklist(prev, cur)
      .filter(col("status").isin("added", "changed")).select("url")
    val full = ExtractJob.extract(cur, cfg).toDF()
      .join(work, Seq("url"))
      .select(col("url"), col("status"), col("n_pages"), col("n_spans"),
        xxhash64(col("text")).as("h"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(inc.nonEmpty && inc.length == 33) // 20 added + 13 changed
    assert(inc.toSeq == full.toSeq)
  }

  test("identical snapshots produce an empty worklist (no re-extraction)") {
    val cfg = ExtractJob.Config(salt = false)
    assert(ExtractJob.extractIncremental(prev, prev, cfg).count() == 0L)
  }
}
