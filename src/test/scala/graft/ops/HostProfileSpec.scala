package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Host-level rollup — hand-computed expectations for every flag
  * branch: dup-and-thin, clean, dup-but-not-thin, and the host
  * extraction including an explicit port. */
class HostProfileSpec extends AnyFunSuite with SparkSuite {

  test("hostProfile: counts, dup detection, flags, port-in-host") {
    import spark.implicits._
    val long150 = Array.fill(50)("abc").mkString(" ")          // 199 chars, 50 toks
    val long120 = Array.fill(40)("xy").mkString(" ")           // 119 chars, 40 toks
    val pages = Seq(
      // h1: 3 pages, one exact dup pair, short texts -> dup AND thin
      ("https://h1.example/1", "alpha beta gamma"),
      ("https://h1.example/2", "alpha beta gamma"),
      ("https://h1.example/3", "delta"),
      // h2: single long page -> clean
      ("https://h2.example/1", long120),
      // h3: two identical long pages -> dup but NOT thin
      ("http://h3.example:8080/a", long150),
      ("http://h3.example:8080/b", long150)
    ).toDF("url", "text")
    val rows = HostProfile.hostProfile(pages).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))).toMap
    // h1: pages 3, tokens 3+3+1=7, chars 16+16+5=37, distinct 2, dup 1
    //     mean 7/3; high_dup 5>3 T; thin 37<300 T; blocked T
    assert(rows("h1.example") ==
      ((3L, 7L, 37L, 2L, 1L, 7.0 / 3.0, true, true, true)))
    // h2: 1 page, 40 toks, 119 chars, distinct 1, dup 0
    //     high_dup 0>1 F; thin 119<100 F; blocked F
    assert(rows("h2.example") ==
      ((1L, 40L, 119L, 1L, 0L, 40.0, false, false, false)))
    // h3 (port kept in host): 2 pages, 100 toks, 398 chars, distinct 1,
    //     dup 1; high_dup 5>2 T; thin 398<200 F; blocked T
    assert(rows("h3.example:8080") ==
      ((2L, 100L, 398L, 1L, 1L, 50.0, true, false, true)))
    assert(rows.size == 3)
  }

  test("syntheticHostPages: thin host truncates, parked host constant") {
    import spark.implicits._
    val docs = Seq(
      (3L, "0123456789" * 8),   // host 3: expect first 40 chars
      (7L, "anything at all"),  // host 7: expect banner
      (1L, "plain text")        // other: unchanged
    ).toDF("doc_id", "text")
    val rows = HostProfile.syntheticHostPages(docs).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows("https://host3.example/doc3") == "0123456789" * 4)
    assert(rows("https://host7.example/doc7") ==
      "subscribe to our newsletter now")
    assert(rows("https://host1.example/doc1") == "plain text")
  }
}
