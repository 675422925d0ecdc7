package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.font.FontCache

/** Every `graft.Perf` subcommand at toy size, through the entry point
  * `main` uses: each prints one valid JSON line with its samples, and a
  * query that throws is reported by name with its error and a non-zero
  * exit code, never with a time. `stress` is left out: its edge gate
  * needs a graph of more than 200k edges. */
class PerfSpec extends AnyFunSuite with SparkSuite {

  /** Runs a subcommand; returns its JSON line, parsed, and the exit code. */
  private def perf(args: String*): (String, Row, Int) = {
    val (line, code) = Perf.run(spark, args, sfDir = "")
    (line, parse(line), code)
  }

  private def parse(line: String): Row = {
    val s = SparkSession.active
    import s.implicits._
    val df = s.read.json(Seq(line).toDS())
    assert(!df.columns.contains("_corrupt_record"), line)
    df.head()
  }

  private def seq[T](r: Row, field: String): Seq[T] =
    r.getAs[scala.collection.Seq[T]](field).toSeq

  private def samples(arm: Row, metric: String): Seq[Double] =
    seq[Double](arm.getAs[Row](metric), "samples")

  private def checkArm(arm: Row, n: Int): Unit = {
    assert(samples(arm, "wall_s").length == n)
    assert(samples(arm, "cpu_s").length == n)
    assert(arm.getAs[Row]("wall_s").getAs[Double]("min") > 0.0)
    assert(arm.getAs[Long]("jobs") >= 1L)
  }

  test("cpu: CPU seconds per pass over the bench corpus") {
    val (line, r, code) = perf("cpu", "200", "2")
    assert(code == 0, line)
    assert(r.getAs[String]("cmd") == "cpu")
    assert(r.getAs[Long]("host_cores") >= 1L)
    assert(r.getAs[Long]("n_docs") == 200L)
    assert(r.getAs[Double]("docs_per_cpu_sec") > 0.0)
    checkArm(r, 2)
  }

  for (arm <- Seq("dedup", "fontcache", "salt"))
    test(s"ab $arm: both arms sampled, interleaved") {
      val (line, r, code) = perf("ab", arm, "60", "1")
      assert(code == 0, line)
      assert(r.getAs[String]("arm") == arm)
      val names = Map("dedup" -> ("deduped", "plain"), "fontcache" -> ("cached", "uncached"),
        "salt" -> ("salted", "unsalted"))(arm)
      checkArm(r.getAs[Row](names._1), 1)
      checkArm(r.getAs[Row](names._2), 1)
      if (arm == "fontcache") {
        assert(r.getAs[Long]("hits") > 0L)
        assert(FontCache.enabled, "the A/B must leave the cache as it found it")
      }
      if (arm == "salt") assert(seq[Double](r, "salted_busy_spread").length == 1)
    }

  test("ab with an unknown arm fails") {
    val (line, _, code) = perf("ab", "nope")
    assert(code == 1 && line.contains("use dedup, fontcache or salt"), line)
  }

  test("large: MB/s on multi-page compressed PDFs") {
    val (line, r, code) = perf("large", "2", "3")
    assert(code == 0, line)
    assert(r.getAs[Double]("total_mb") > 0.0)
    assert(r.getAs[Double]("pages_per_sec") > 0.0)
    checkArm(r, 3)
  }

  test("kernel: thread-CPU ns/doc per fixture kind") {
    val (line, r, code) = perf("kernel", "2")
    assert(code == 0, line)
    for (kind <- Seq("textPdf", "html", "fontPdf", "bigFontPdf"); arm <- Seq("all", "text_only")) {
      val s = r.getAs[Row](kind).getAs[Row](arm)
      assert(seq[Double](s, "samples").length == 2, s"$kind $arm")
      assert(s.getAs[Double]("min") > 0.0, s"$kind $arm")
      assert(!r.getAs[Row](kind).getAs[Double]("text_only_saving").isNaN, kind)
    }
  }

  test("plans: one file per plan, starting with its Check: note") {
    val (line, r, code) = perf("plans", "extract")
    assert(code == 0, line)
    assert(seq[String](r, "written") == Seq(Paths.get("target", "plans", "extract.txt").toString))
    val text = Files.readString(Paths.get("target", "plans", "extract.txt"))
    assert(text.startsWith("Check: ReadSchema lists only url+html;"), text.take(200))
    assert(text.contains("== Physical Plan =="))
    assert(text.contains("ExtractPartitions(markdown=true, html=true)"), text)
  }

  test("queries: a query that throws is named with its error, never timed") {
    val (line, code) = Perf.run(spark, Seq("queries", "q2_join_broadcast"),
      sfDir = Files.createTempDirectory("no-sf").resolve("missing").toString)
    assert(code == 1, line)
    val r = parse(line)
    assert(seq[String](r, "failed") == Seq("q2_join_broadcast"))
    val q = r.getAs[Row]("queries").getAs[Row]("q2_join_broadcast")
    assert(q.schema.fieldNames.toSeq == Seq("error"), line)
    assert(q.getAs[String]("error").nonEmpty)
    assert(!line.contains("wall_s"), line)
  }

  test("queries: shuffle MB per query, 0 for a scan-only query") {
    import spark.implicits._
    val dir = Files.createTempDirectory("perf-sf")
    (0L until 3000L).map(id => (id, s"document number $id of the perf queries table"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    val (line, code) = Perf.run(spark, Seq("queries", "dedup_exact,text_token_stats"),
      sfDir = dir.toString)
    assert(code == 0, line)
    val q = parse(line).getAs[Row]("queries")
    // groupBy(text) shuffles every row
    val grouped = q.getAs[Row]("dedup_exact")
    assert(grouped.getAs[Double]("shuffle_write_mb") > 0.0, line)
    assert(grouped.getAs[Double]("shuffle_read_mb") > 0.0, line)
    // a projection of the scan: only the count()'s few bytes move
    val scan = q.getAs[Row]("text_token_stats")
    assert(scan.getAs[Double]("shuffle_write_mb") == 0.0, line)
    assert(scan.getAs[Double]("shuffle_read_mb") == 0.0, line)
    assert(scan.getAs[Long]("stages") >= 1L, line)
  }

  test("an unknown subcommand fails") {
    val (line, code) = Perf.run(spark, Seq("nope"), sfDir = "")
    assert(code == 1 && line.contains("usage"), line)
  }

  // last: `scaling` times fresh sessions and stops the one it is given
  test("scaling: local[n] vs local[4n] in fresh sessions, optional out-file") {
    val out = Files.createTempDirectory("perf-scaling").resolve("scaling.json")
    val (line, code) = Perf.run(spark, Seq("scaling", "200", out.toString, "1"), sfDir = "")
    // `parse` needs a live session
    val parser = SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      assert(code == 0, line)
      val r = parse(line)
      assert(r.getAs[Long]("n_cores") == 1L)
      assert(r.getAs[Double]("target") == 0.8)
      assert(r.getAs[Double]("scaling_efficiency") > 0.0)
      checkArm(r.getAs[Row]("localN"), 3)
      checkArm(r.getAs[Row]("local4N"), 3)
      val paired = r.getAs[Row]("paired_efficiency")
      assert(seq[Double](paired, "samples").length == 3 && paired.getAs[Double]("median") > 0.0)
      assert(paired.getAs[Double]("iqr") >= 0.0)
      val saved = parse(Files.readString(out).trim)
      assert(saved.getAs[Double]("scaling_efficiency") == r.getAs[Double]("scaling_efficiency"))
    } finally parser.stop()
  }
}
