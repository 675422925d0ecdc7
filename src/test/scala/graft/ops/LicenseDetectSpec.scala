package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** License routing ([[TextAnalysis.licenseDetect]]):
  *  - each planted variant routes to its family; plain prose to none;
  *  - the priority ladder: SPDX beats Apache when both appear, a
  *    grant phrase beats the bare copyright line;
  *  - n_copyright counts copyright-bearing docs independently of the
  *    routed family;
  *  - the planted corpus census is exactly the doc_id % 6 split.
  */
class LicenseDetectSpec extends AnyFunSuite with SparkSuite {

  private def run(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    TextAnalysis.licenseDetect(rows.toDF("doc_id", "source", "text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
  }

  test("families, ladder priority, copyright flag") {
    val got = run(Seq(
      (0L, "s", "words only here"),
      (1L, "s", "SPDX-License-Identifier: Apache-2.0 under the Apache License"),
      (2L, "s", "released under the Apache License v2"),
      (3L, "s", "Creative Commons Attribution applies"),
      (4L, "s", "Permission is hereby granted to use this"),
      (5L, "s", "Copyright (c) 2020 Acme. All rights reserved."),
      (6L, "s", "Permission is hereby granted. Copyright (c) Acme.")))
    assert(got(("s", "none")) == ((1L, 0L)))
    assert(got(("s", "spdx")) == ((1L, 0L)))
    assert(got(("s", "apache")) == ((1L, 0L)))
    assert(got(("s", "cc")) == ((1L, 0L)))
    assert(got(("s", "mit")) == ((2L, 1L))) // grant beats bare (c)
    assert(got(("s", "proprietary")) == ((1L, 1L)))
  }

  test("planted corpus census is the doc_id % 6 split") {
    import spark.implicits._
    val base = (0L until 60L).map(i => (i, "srcA", "plain prose text"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.licenseDetect(
        TextAnalysis.syntheticLicenseMix(base))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got("proprietary") == ((10L, 10L)))
    assert(got("apache") == ((10L, 0L)))
    assert(got("cc") == ((10L, 0L)))
    assert(got("mit") == ((10L, 0L)))
    assert(got("spdx") == ((10L, 0L)))
    assert(got("none") == ((10L, 0L)))
  }
}
