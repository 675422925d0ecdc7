package graft.spark

import graft.SparkSuite
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming operators: watermarked windowed quality metrics
  * (append emits a window exactly once, after the watermark passes it)
  * and first-seen URL dedup (per-key state spans micro-batches). */
class StreamStateSpec extends AnyFunSuite with SparkSuite {

  private val base = 1735689600000L // 2025-01-01T00:00:00Z — fixed, no wall clock
  private def ts(minutes: Long) = new Timestamp(base + minutes * 60000L)
  private val html = "<html><body><p>hello streaming world text</p></body></html>"
    .getBytes("UTF-8")

  test("qualityMetrics: window emits once, after the watermark passes it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Timestamp, Array[Byte])]
    val metrics = ExtractStreamJob.qualityMetrics(in.toDF.toDF("url", "warc_ts", "html"))
    val q = metrics.writeStream.format("memory").queryName("qm")
      .outputMode("append").start()
    try {
      // batch 1: hour-0 window — 3 docs on host a, 2 on host b
      in.addData(
        ("https://a.example/1", ts(10), html),
        ("https://a.example/2", ts(20), html),
        ("https://a.example/3", ts(40), html),
        ("https://b.example/1", ts(15), html),
        ("https://b.example/2", ts(50), html))
      q.processAllAvailable()
      // watermark = 50min − 10min = 40min < 1h ⇒ nothing emitted yet
      assert(spark.table("qm").count() == 0)

      // batch 2: an event at 150min pushes the watermark to 140min > 60min
      in.addData(("https://a.example/9", ts(150), html))
      q.processAllAvailable()
      val rows = spark.table("qm")
        .selectExpr("host", "n_docs", "n_ok", "n_bytes", "n_pages")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(rows.length == 2, s"hour-0 window only, got ${rows.mkString(";")}")
      assert(rows(0) == (("a.example", 3L, 3L, 3L * html.length, 3L)))
      assert(rows(1) == (("b.example", 2L, 2L, 2L * html.length, 2L)))
    } finally q.stop()
  }

  test("dedupFirstSeen: intra-batch duplicates survive min warc_ts, tie-break payload") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pA = "<html><body><p>payload AAAA</p></body></html>".getBytes("UTF-8")
    val pB = "<html><body><p>payload BBBB</p></body></html>".getBytes("UTF-8")
    val in = MemoryStream[(String, Timestamp, Array[Byte])]
    val deduped = ExtractStreamJob.dedupFirstSeen(in.toDF.toDF("url", "warc_ts", "html"))
    val q = deduped.writeStream.format("memory").queryName("ddet")
      .outputMode("append").start()
    try {
      // u1: three same-batch rows with DIFFERENT timestamps/payloads,
      // deliberately added latest-first — the earliest warc_ts must win
      // regardless of arrival/iteration order.
      // u2: two same-batch rows with EQUAL timestamps — the smaller
      // payload (unsigned-lexicographic) must win.
      in.addData(
        ("https://x/u1", ts(9), pB),
        ("https://x/u1", ts(3), pA),
        ("https://x/u1", ts(5), pB),
        ("https://x/u2", ts(4), pB),
        ("https://x/u2", ts(4), pA))
      q.processAllAvailable()
      val rows = spark.table("ddet")
        .selectExpr("url", "warc_ts", "cast(html as string) as body")
        .as[(String, Timestamp, String)].collect().sortBy(_._1).toSeq
      assert(rows.map(_._1) == Seq("https://x/u1", "https://x/u2"))
      assert(rows(0)._2 == ts(3) && rows(0)._3.contains("payload AAAA"),
        s"u1 must keep the earliest-ts row, got $rows")
      assert(rows(1)._2 == ts(4) && rows(1)._3.contains("payload AAAA"),
        s"u2 tie must break to the lexicographically smaller payload, got $rows")
    } finally q.stop()
  }

  test("qualityMetricsFromExtracted matches the re-extracting variant (batch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pages = Seq(
      ("https://a.example/1", ts(10), html),
      ("https://a.example/2", ts(20), html),
      ("nohost-url", ts(25), html),
      ("https://b.example/1", ts(15), html),
      ("https://b.example/2", ts(130), html)) // second window
      .toDF("url", "warc_ts", "html")
    val direct = ExtractStreamJob.qualityMetrics(pages)
      .selectExpr("window.start as ws", "host", "n_docs", "n_ok", "n_bytes", "n_pages")
      .as[(Timestamp, String, Long, Long, Long, Long)].collect().sorted.toSeq
    // production shape: the sink's extracted rows + event time, no re-extraction
    val extracted = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .toDF()
      .join(pages.select(col("url"), col("warc_ts")), "url")
    val fromSink = ExtractStreamJob.qualityMetricsFromExtracted(extracted)
      .selectExpr("window.start as ws", "host", "n_docs", "n_ok", "n_bytes", "n_pages")
      .as[(Timestamp, String, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(direct.nonEmpty && direct == fromSink,
      s"direct=$direct\nfromSink=$fromSink")
  }

  test("dedupFirstSeen: only the first occurrence of a url ever passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Timestamp, Array[Byte])]
    val deduped = ExtractStreamJob.dedupFirstSeen(in.toDF.toDF("url", "warc_ts", "html"))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      // batch 1: u1 twice in the same batch + u2
      in.addData(
        ("https://x/u1", ts(1), html),
        ("https://x/u2", ts(2), html),
        ("https://x/u1", ts(3), html))
      q.processAllAvailable()
      // batch 2: u1 re-crawled across batches + new u3
      in.addData(
        ("https://x/u1", ts(30), html),
        ("https://x/u3", ts(31), html))
      q.processAllAvailable()
      val urls = spark.table("dd").select("url").as[String].collect().sorted.toSeq
      assert(urls == Seq("https://x/u1", "https://x/u2", "https://x/u3"))
      // the surviving u1 row is the batch-1 one (its payload/ts, not the re-crawl's)
      val u1ts = spark.table("dd").where("url = 'https://x/u1'")
        .select("warc_ts").as[Timestamp].head()
      assert(u1ts.getTime < ts(30).getTime)
    } finally q.stop()
  }
}
