package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Hard-negative mining:
  *  - engine output equals an independent JVM brute force (band
  *    decision + argmax + tie order) on random vectors — this also
  *    proves the pivot-bucket candidate prune is lossless at the band
  *    floor;
  *  - planted geometry: the near-dup (cos >= ceil) is NEVER the mined
  *    negative, the orthogonal decoy never appears, the in-band
  *    planted vector wins;
  *  - exact-cosine ties break to the smaller neg_id;
  *  - anchors with an empty band emit no row.
  */
class HardNegativesSpec extends AnyFunSuite with SparkSuite {

  private def emb(vs: Seq[Array[Float]]) = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Independent brute force over ALL pairs (no prune). */
  private def bruteForce(vs: Seq[Array[Float]], anchorMax: Long,
                         floor: Double, ceil: Double): Map[Long, (Long, Long)] =
    (0L until math.min(anchorMax, vs.length.toLong)).flatMap { a =>
      val band = vs.indices.filter(_ != a)
        .map(b => (b.toLong, cosine(vs(a.toInt), vs(b))))
        .filter { case (_, c) => c >= floor && c < ceil }
      if (band.isEmpty) None
      else {
        val best = band.minBy { case (id, c) => (-c, id) }._1
        Some(a -> (best, band.size.toLong))
      }
    }.toMap

  test("equals brute force on random vectors (prune is lossless)") {
    val rnd = new scala.util.Random(42)
    // clumped directions so the [0.3, 0.9) band is well-populated
    val base = Array.fill(5)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val vs = (0 until 120).map { _ =>
      val b = base(rnd.nextInt(5))
      b.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.6f)
    }
    val want = bruteForce(vs, 40L, 0.3, 0.9)
    val got = Similarity.hardNegatives(emb(vs), anchorMax = 40L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    assert(want.nonEmpty, "band must be populated for the test to bite")
  }

  test("planted geometry: near-dup excluded, in-band wins, empty band = no row") {
    val anchor = Array(1f, 0f, 0f, 0f)
    val nearDup = Array(0.999f, 0.03f, 0f, 0f) // cos ~0.999 >= ceil
    val inBand = Array(1f, 1f, 0f, 0f)         // cos ~0.707
    val weaker = Array(1f, 1.6f, 0f, 0f)       // cos ~0.53
    val ortho = Array(0f, 0f, 1f, 0f)          // cos 0 < floor
    val vs = Seq(anchor, nearDup, inBand, weaker, ortho)
    val out = Similarity.hardNegatives(emb(vs), anchorMax = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 2L, 2L)),
      s"expected in-band id 2 with n_band 2, got ${out.toSeq}")
    // an anchor whose band is empty emits nothing
    val lonely = Similarity.hardNegatives(
      emb(Seq(anchor, ortho)), anchorMax = 1L).collect()
    assert(lonely.isEmpty)
  }

  test("exact cosine ties break to the smaller neg_id") {
    val anchor = Array(1f, 0f)
    val twinA = Array(1f, 1f)   // id 1, cos ~0.707
    val twinB = Array(1f, 1f)   // id 2, identical -> identical cosine
    val out = Similarity.hardNegatives(emb(Seq(anchor, twinA, twinB)),
      anchorMax = 1L).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 1L, "tie must pick the smaller id")
    assert(out.head.getLong(2) == 2L)
  }
}
