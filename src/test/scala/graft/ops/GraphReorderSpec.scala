package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** BFS reordering compression census ([[WebGraph.graphReorder]]):
  *  - structure invariants: both orderings price the SAME edge set
  *    (equal n_lists / n_edges / raw_bytes);
  *  - on a chain graph with scattered natural ids, BFS renumbering is
  *    strictly cheaper (hand-computable gaps of 1);
  *  - the BFS id assignment is a dense permutation ordered by
  *    (depth, url), unreached nodes after reached ones — checked
  *    against a JVM replication;
  *  - partitioning invariance of the rank (4 vs 16 range partitions).
  */
class GraphReorderSpec extends AnyFunSuite with SparkSuite {

  private def df(rows: Seq[(String, String)]) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def seeds(urls: Seq[String]) = {
    import spark.implicits._
    urls.toDF("url")
  }

  test("same edge set, chain graph compresses strictly better under BFS") {
    // chain doc100 -> doc7 -> doc950 -> doc3 -> doc512 (scattered ids)
    val chain = Seq("doc100", "doc7", "doc950", "doc3", "doc512")
    val edges = df(chain.zip(chain.tail))
    val got = WebGraph.graphReorder(edges, seeds(Seq("doc100")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (nl, ne, raw, _) = got("natural")
    val (bl, be, braw, bpacked) = got("bfs")
    assert((nl, ne, raw) == ((bl, be, braw)))
    assert(ne == 4L && raw == 32L)
    // BFS ids follow the chain: 0->1->2->3->4, every first-gap
    // zigzag(dst-src=1) = 2 -> 1 byte each = 4 bytes total
    assert(bpacked == 4L)
    assert(got("natural")._4 > bpacked)
  }

  test("dense (depth, url)-ordered permutation incl. unreached tail") {
    val edges = df(Seq(
      ("a", "m"), ("a", "c"), ("c", "z"),   // reached from a
      ("q", "r")))                          // unreached island
    import spark.implicits._
    // replicate through the public census: run reorder on a graph
    // whose urls carry doc numbers so natural ids exist
    val named = df(Seq(
      ("doc1", "doc9"), ("doc1", "doc5"), ("doc5", "doc8"),
      ("doc2", "doc4")))
    val got = WebGraph.graphReorder(named, seeds(Seq("doc1")))
      .collect().map(r => r.getString(0) -> (r.getLong(4), r.getLong(5)))
      .toMap
    // JVM replication of the bfs ids: depths: doc1=0; doc5,doc9=1;
    // doc8=2; doc2,doc4 unreached -> order:
    // doc1(0), doc5(1), doc9(2), doc8(3), doc2(4), doc4(5)
    // edges under bfs ids: 0->2, 0->1, 1->3, 4->5
    // lists: src0: [1,2] codes: zig(1-0=1)=2 (1B), gap 2-1-1=0 (1B)
    // src1: [3] zig(2)=4 1B; src4: [5] zig(1)=2 1B -> packed 4
    assert(got("bfs") == ((4L, 4L * 1000 / 32L))) // 4 bytes, 125 permille
  }

  test("rank is partition-count invariant") {
    val edges = df((0 until 60).map(i =>
      (s"doc${i % 20}", s"doc${(i * 7 + 3) % 20}")).filter(p => p._1 != p._2))
    val a = WebGraph.graphReorder(edges, seeds(Seq("doc0")), nPartitions = 4)
      .collect().map(r => (r.getString(0), r.getLong(4))).sorted.toSeq
    val b = WebGraph.graphReorder(edges, seeds(Seq("doc0")), nPartitions = 16)
      .collect().map(r => (r.getString(0), r.getLong(4))).sorted.toSeq
    assert(a == b)
  }
}
