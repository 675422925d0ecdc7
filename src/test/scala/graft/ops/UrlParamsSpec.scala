package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Query-param census ([[WebGraph.urlParamCensus]]):
  *  - hand urls: constant-decoration vs identifier distinction,
  *    tracking flags, param-free urls contribute nothing;
  *  - empty query string and valueless params don't blow up.
  */
class UrlParamsSpec extends AnyFunSuite with SparkSuite {

  test("hand census") {
    import spark.implicits._
    val urls = Seq(
      "https://h/a?id=1&utm_source=x",
      "https://h/b?id=2&utm_source=x",
      "https://h/c?gclid=g1",
      "https://h/d",
      "https://h/e?").toDF("url")
    val got = WebGraph.urlParamCensus(urls).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got("id") == ((2L, 2L, 0L)))         // identifier
    assert(got("utm_source") == ((2L, 1L, 1L))) // constant + tracking
    assert(got("gclid") == ((1L, 1L, 1L)))
    assert(got.size == 3)
  }
}
