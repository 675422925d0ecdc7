package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** WARC/1.0 container plumbing ([[Warc.parseShard]] / [[Warc.records]]):
  *  - hand-built shard bytes parse to the expected records, with
  *    header order and unknown headers tolerated (a REAL header walk,
  *    not offset arithmetic);
  *  - framing violations (truncated payload, missing Content-Length,
  *    bad version line, missing record separator) end the parse with
  *    the complete prefix — never throw;
  *  - the synthetic corpus parses to exactly the generator formula
  *    (JVM closed-form replication incl. FNV fingerprints and the
  *    truncated-shard last-record loss).
  */
class WarcSpec extends AnyFunSuite with SparkSuite {

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def fnv(s: String): Long = {
    val b = ascii(s)
    Multimodal.hashBytes(b, 0, b.length)
  }

  test("hand-built shard with reordered + unknown headers") {
    val shard = ascii(
      "WARC/1.0\r\n" +
        "Content-Length: 5\r\n" +          // length BEFORE type
        "X-Unknown: whatever\r\n" +         // must be skipped
        "WARC-Type: response\r\n" +
        "WARC-Target-URI: https://h/x\r\n" +
        "\r\n" +
        "hello\r\n\r\n" +
        "WARC/1.0\r\n" +
        "WARC-Type: metadata\r\n" +
        "Content-Length: 2\r\n" +
        "\r\n" +
        "ok\r\n\r\n")
    val got = Warc.parseShard(shard)
    assert(got == Vector(
      (0, "response", "https://h/x", 5L, fnv("hello")),
      (1, "metadata", "", 2L, fnv("ok"))))
  }

  test("framing violations keep the complete prefix") {
    val good = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n"
    // truncated second record (payload cut short)
    assert(Warc.parseShard(ascii(good +
      "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 9\r\n\r\nab")).size == 1)
    // missing Content-Length
    assert(Warc.parseShard(ascii(good +
      "WARC/1.0\r\nWARC-Type: response\r\n\r\nabc\r\n\r\n")).size == 1)
    // bad version line
    assert(Warc.parseShard(ascii(good + "WARC/2.9\r\n")).size == 1)
    // missing record separator after payload
    assert(Warc.parseShard(ascii(
      "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 3\r\n\r\nabcXXXX")).isEmpty)
    assert(Warc.parseShard(null).isEmpty)
    assert(Warc.parseShard(ascii("not a warc")).isEmpty)
  }

  test("synthetic corpus equals the generator formula end to end") {
    import spark.implicits._
    val shards = spark.range(0, 40, 1, 4)
      .map(id => (id, Warc.syntheticShard(id)))
      .toDF("shard_id", "warc")
    val got = Warc.records(shards).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getString(3), r.getLong(4), r.getLong(5))).toMap
    var expected = 0
    (0L until 40L).foreach { sh =>
      val nRecs = 1 + 3 + (sh % 4).toInt
      val kept = if (sh % 8 == 7) nRecs - 1 else nRecs
      expected += kept
      (0 until kept).foreach { r =>
        val tpe =
          if (r == 0) "warcinfo"
          else if (r % 3 == 1) "response"
          else if (r % 3 == 2) "request"
          else "metadata"
        val uri = if (r == 0) ""
          else s"https://host${(sh * 7 + r) % 13}.example/doc${sh * 31 + r}"
        val plLen = 20 + ((sh * 13 + r * 7) % 50).toInt
        val payload = (0 until plLen)
          .map(j => (97 + ((sh + r * 3 + j) % 26)).toChar).mkString
        assert(got((sh, r.toLong)) == ((tpe, uri, plLen.toLong, fnv(payload))),
          s"shard $sh rec $r")
      }
    }
    assert(got.size == expected)
  }
}
