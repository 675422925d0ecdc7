package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SCC: hand graphs (cycles, bridges, chains, self-loops), a driver
  * Tarjan as independent ground truth on random graphs, and partition
  * independence. */
class SccSpec extends AnyFunSuite with SparkSuite {

  private def edges(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src_id", "dst_id")
  }

  // gate=0 forces the distributed trim+color+extract path on these tiny
  // graphs; gate=default exercises the driver-Kosaraju finish.
  private def run(d: DataFrame, gate: Long = 0L): Map[Long, (Long, Long)] =
    WebGraph.stronglyConnected(d, driverEdgeGate = gate).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Iterative Tarjan over an in-memory graph — independent oracle. */
  private def tarjan(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = es.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = es.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var index = 0
    val idx = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.Stack[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()
    def strongConnect(v0: Long): Unit = {
      // explicit work stack (deep chains overflow recursion)
      case class Frame(v: Long, var i: Int)
      val work = scala.collection.mutable.Stack(Frame(v0, 0))
      idx(v0) = index; low(v0) = index; index += 1
      stack.push(v0); onStack += v0
      while (work.nonEmpty) {
        val f = work.top
        val succ = adj.getOrElse(f.v, Seq.empty)
        if (f.i < succ.length) {
          val w = succ(f.i); f.i += 1
          if (!idx.contains(w)) {
            idx(w) = index; low(w) = index; index += 1
            stack.push(w); onStack += w
            work.push(Frame(w, 0))
          } else if (onStack(w)) low(f.v) = math.min(low(f.v), idx(w))
        } else {
          work.pop()
          if (work.nonEmpty)
            low(work.top.v) = math.min(low(work.top.v), low(f.v))
          if (low(f.v) == idx(f.v)) {
            val members = scala.collection.mutable.Buffer[Long]()
            var w = -1L
            do { w = stack.pop(); onStack -= w; members += w } while (w != f.v)
            val id = members.min
            members.foreach(m => comp(m) = id)
          }
        }
      }
    }
    nodes.foreach(v => if (!idx.contains(v)) strongConnect(v))
    comp.toMap
  }

  test("two cycles joined by a one-way bridge, plus a tail chain") {
    // cycle A: 1->2->3->1; bridge 3->10; cycle B: 10->11->10; tail 11->20->21
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L),
      (11L, 10L), (11L, 20L), (20L, 21L))
    val got = run(edges(es: _*))
    assert(got(1L)._1 === 1L); assert(got(2L)._1 === 1L); assert(got(3L)._1 === 1L)
    assert(got(1L)._2 === 3L)
    assert(got(10L)._1 === 10L); assert(got(11L)._1 === 10L)
    assert(got(10L)._2 === 2L)
    assert(got(20L) === ((20L, 1L))); assert(got(21L) === ((21L, 1L)))
  }

  test("pure path graph trims to all singletons") {
    val es = (0L until 12L).map(i => (i, i + 1))
    val got = run(edges(es: _*))
    (0L to 12L).foreach(v => assert(got(v) === ((v, 1L))))
  }

  test("trim-chain property: a cycle with a feeder and a tail chain of every length 1..10") {
    // trim peels one chain node per step at each end, `hops` (3) steps
    // per barrier: lengths 1..3*3+1 end the trim at every position of
    // a batch, and the cycle then goes through color and extract
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    for (n <- 1 to 10) {
      val feeder = (0 until n).map(i => (100L + i, if (i == n - 1) 1L else 101L + i))
      val tail = (0 until n).map(i => (if (i == 0) 3L else 199L + i, 200L + i))
      val es = cycle ++ feeder ++ tail
      val got = run(edges(es: _*)).view.mapValues(_._1).toMap
      assert(got === tarjan(es), s"chain length $n")
    }
  }

  test("self-loops: ignored inside components, loop-only nodes leave the universe") {
    val es = Seq((1L, 2L), (2L, 1L), (1L, 1L), (9L, 9L))
    val got = run(edges(es: _*))
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((1L, 2L)))
  }

  test("matches driver Tarjan on a random sparse graph (distributed path)") {
    val rnd = new scala.util.Random(1)
    val n = 60
    val es = (0 until 170).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val expect = tarjan(es)
    val got = run(edges(es: _*)).view.mapValues(_._1).toMap
    assert(got === expect)
  }

  test("driver-Kosaraju gate path matches Tarjan on random sparse graphs") {
    // gated runs collect on the driver after trim — cheap, so more seeds here
    for (seed <- Seq(2, 3, 4, 5)) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      val es = (0 until 220).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val expect = tarjan(es)
      val gated = run(edges(es: _*), gate = 1000000L)
      assert(gated.view.mapValues(_._1).toMap === expect, s"seed $seed")
    }
  }

  test("gate path and distributed path agree, sizes included") {
    val rnd = new scala.util.Random(6)
    val es = (0 until 150).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val gated = run(edges(es: _*), gate = 1000000L)
    val dist = run(edges(es: _*))
    assert(gated === dist)
  }

  test("hops batching is result-invariant (hops=1 vs hops=5)") {
    // crafted chain-of-cycles (3 SCCs + trim tails + a feeder): small
    // peel depth keeps the hops=1 arm fast while still driving every
    // phase (trim, color, extract) through multiple outer rounds
    val es = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),                      // cycle A
      (3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), // A→B
      (13L, 20L), (20L, 21L), (21L, 20L),                // B→C
      (21L, 30L), (30L, 31L),                            // tail chain
      (41L, 40L), (40L, 1L))                             // feeder chain
    val a = WebGraph.stronglyConnected(edges(es: _*), hops = 1, driverEdgeGate = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = WebGraph.stronglyConnected(edges(es: _*), hops = 5, driverEdgeGate = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("partition independence") {
    val rnd = new scala.util.Random(99)
    val es = (0 until 140).map(_ => (rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
    val a = run(edges(es: _*).repartition(1))
    val b = run(edges(es: _*).repartition(7))
    assert(a === b)
  }

  test("upfront driver gate matches the distributed path exactly") {
    // round-6 optimization pin: a graph under the edge gate short-
    // circuits to driver Kosaraju BEFORE any trim round; labels and
    // sizes must equal the forced-distributed run bit for bit.
    val rnd = new scala.util.Random(7)
    val es = (0 until 200).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val viaGate = run(edges(es: _*), gate = 1000000L)
    val distributed = run(edges(es: _*), gate = 0L)
    assert(viaGate === distributed)
  }
}
