package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Head-metadata scanner vectors — hand-written markup, hand-computed
  * expectations (not engine-generated). */
class PageMetaSpec extends AnyFunSuite {

  private val base = "https://h.example/dir/page.html"
  private def m(html: String) = PageMeta.headMeta(base, html)

  test("title: first wins, case-insensitive tag, whitespace collapsed") {
    assert(m("<title>A  B\n C</title>").title == "A B C")
    assert(m("<TITLE>Up</TITLE><title>second</title>").title == "Up")
    assert(m("<body>no title</body>").title == "")
    // <titlex> must not match; unterminated title swallows to EOF
    assert(m("<titlex>nope</titlex>").title == "")
    assert(m("<title>open ended").title == "open ended")
  }

  test("canonical: quote styles, attr order, resolution, self default") {
    assert(m("""<link rel="canonical" href="https://c.x/p">""").canonical
      == "https://c.x/p")
    assert(m("""<link href='https://c.x/q' rel='canonical'>""").canonical
      == "https://c.x/q")
    // root-relative and path-relative resolve like anchors
    assert(m("""<link rel=canonical href=/root>""").canonical
      == "https://h.example/root")
    assert(m("""<link rel="canonical" href="sib.html">""").canonical
      == "https://h.example/dir/sib.html")
    // non-canonical links skipped; absent → self
    assert(m("""<link rel="stylesheet" href="/s.css">""").canonical == base)
    assert(m("<p>x</p>").canonical == base)
    // first canonical wins
    assert(m("""<link rel="canonical" href="https://c.x/1">""" +
      """<link rel="canonical" href="https://c.x/2">""").canonical
      == "https://c.x/1")
  }

  test("robots meta: token split, case, OR across metas, decoys ignored") {
    val r1 = m("""<meta name="robots" content="noindex, follow">""")
    assert(r1.noindex && !r1.nofollow)
    val r2 = m("<META NAME=robots CONTENT=NOFOLLOW>")
    assert(!r2.noindex && r2.nofollow)
    val r3 = m("<meta name=robots content=noindex,nofollow>")
    assert(r3.noindex && r3.nofollow)
    // OR across multiple metas
    val r4 = m("""<meta name="robots" content="noindex">""" +
      """<meta name="robots" content="nofollow">""")
    assert(r4.noindex && r4.nofollow)
    // decoys: other meta names, <metadata> tag, unrelated tokens
    val r5 = m("""<meta name="viewport" content="noindex">""" +
      """<metadata name="robots" content="noindex"></metadata>""" +
      """<meta name="robots" content="index, follow">""")
    assert(!r5.noindex && !r5.nofollow)
  }

  test("entity decoding: named, numeric, nbsp-as-ws, invalid verbatim") {
    assert(m("<title>A &amp; B</title>").title == "A & B")
    assert(m("<title>&lt;tag&gt; &quot;q&quot; &apos;a&apos;</title>").title
      == "<tag> \"q\" 'a'")
    assert(m("<title>x&nbsp;&nbsp;y</title>").title == "x y") // nbsp collapses
    assert(m("<title>&#72;&#105;</title>").title == "Hi")
    assert(m("<title>&#x48;&#X69;</title>").title == "Hi")
    assert(m("<title>&#128512;</title>").title
      == new String(Character.toChars(128512))) // supplementary plane
    // invalid forms stay verbatim: bare &, unknown name, bad number,
    // unterminated, surrogate code point
    assert(m("<title>a & b</title>").title == "a & b")
    assert(m("<title>&bogus; &#xZZ; &#55296;</title>").title
      == "&bogus; &#xZZ; &#55296;")
    assert(m("<title>tail&amp</title>").title == "tail&amp")
    // decoded '<' is literal text, not markup
    assert(m("<title>a &lt;b&gt; c</title>").title == "a <b> c")
  }

  test("anchor text decodes entities too (shared innerText)") {
    val es = WebGraph.anchors("https://h.example/p",
      """<a href="https://t.x/1">A &amp;&nbsp;B</a>""")
    assert(es.map(_.anchor) == Seq("A & B"))
  }

  test("syntheticHeads variants round-trip the closed form") {
    // representative doc ids, one per variant class (hand-resolved)
    val h0 = PageMeta.headMeta("https://host5.example/doc5",
      "<head><title>Doc 5</title></head><body>b</body>")
    assert(h0 == PageMeta.HeadMeta("Doc 5",
      "https://host5.example/doc5", false, false))
    // v=2 (doc 7): relative canonical /doc22 resolves on host7
    val h2 = PageMeta.headMeta("https://host7.example/doc7",
      "<head><title>Doc   7  x</title><link rel='canonical' " +
        "href='/doc22'><meta name=\"robots\" " +
        "content=\"noindex, follow\"></head><body>b</body>")
    assert(h2 == PageMeta.HeadMeta("Doc 7 x",
      "https://host7.example/doc22", true, false))
  }
}

/** Canonical consolidation over hand-built tables — hand-computed
  * expectations for every branch: redirect-chain collapse, declared
  * canonical applied at the TERMINAL (one hop only), out-of-corpus
  * terminal, redirect loop, and the cluster-representative rule. */
class CanonicalMapSpec extends org.scalatest.funsuite.AnyFunSuite
    with SparkSuite {

  // pages: a→b→c chain; c declares canonical k; k self-canonical;
  // d declares canonical m (m not fetched); e redirects OUT of corpus;
  // f↔g redirect loop (f even declares a canonical — must be IGNORED,
  // loops have no trustworthy canonical); h plain self-canonical page.
  private def meta() = {
    import spark.implicits._
    Seq(
      ("u:a", "u:a"), ("u:b", "u:b"), ("u:c", "u:k"), ("u:k", "u:k"),
      ("u:d", "u:m"), ("u:e", "u:e"), ("u:f", "u:z"), ("u:g", "u:g"),
      ("u:h", "u:h")
    ).toDF("url", "canonical")
  }
  private def redirects() = {
    import spark.implicits._
    Seq(("u:a", "u:b"), ("u:b", "u:c"), ("u:e", "u:out"),
      ("u:f", "u:g"), ("u:g", "u:f")).toDF("src", "dst")
  }

  test("canonicalMap: chain collapse + one-hop declared canonical") {
    val rows = PageMeta.canonicalMap(meta(), redirects())
      .collect().map(r => (r.getString(0),
        (r.getString(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(rows("u:a") == (("u:k", 2L, true, false)))  // a→b→c, c declares k
    assert(rows("u:b") == (("u:k", 1L, true, false)))
    assert(rows("u:c") == (("u:k", 0L, true, false)))  // no redirect, declared
    assert(rows("u:k") == (("u:k", 0L, false, false))) // self-canonical
    // d declares m; m has NO meta row but declaration still applies
    // (declared = terminal page exists and declares something else)
    assert(rows("u:d") == (("u:m", 0L, true, false)))
    // e's terminal u:out is unfetched → canonical = terminal, not declared
    assert(rows("u:e") == (("u:out", 1L, false, false)))
    // loop members keep themselves, flagged — even u:f's own declared
    // canonical (u:z) is ignored on a loop
    assert(rows("u:f") == (("u:f", 0L, false, true)))
    assert(rows("u:g") == (("u:g", 0L, false, true)))
    assert(rows("u:h") == (("u:h", 0L, false, false)))
    assert(rows.size == 9)
  }

  test("canonicalClusters: size, declared count, representative rule") {
    val mm = meta()
    val cl = PageMeta.canonicalClusters(
      PageMeta.canonicalMap(mm, redirects()), mm)
      .collect().map(r => (r.getString(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // k's cluster: a,b,c,k — rep is k itself (fetched), 3 declared
    assert(cl("u:k") == (("u:k", 4L, 3L)))
    // m unfetched → rep falls back to min member (u:d)
    assert(cl("u:m") == (("u:d", 1L, 1L)))
    // out unfetched → rep u:e
    assert(cl("u:out") == (("u:e", 1L, 0L)))
    assert(cl("u:f") == (("u:f", 1L, 0L)))
    assert(cl("u:g") == (("u:g", 1L, 0L)))
    assert(cl("u:h") == (("u:h", 1L, 0L)))
    assert(cl.size == 6)
  }
}
