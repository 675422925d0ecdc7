package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** GVID video-container plumbing: build/parse round trip, corrupt and
  * hostile-input guards, stride sampling, independent fingerprint
  * replay from the generator formula, and the cross-video share
  * census. */
class FrameHashSpec extends AnyFunSuite with SparkSuite {

  // Independent replay of the frame formula (no container bytes).
  private def formulaHash(g: Long, f: Int): Long = {
    val len = (40 + ((f * 5 + g) % 24)).toInt
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < len) {
      val b = (g * 131 + f * 29 + j * 17 + (j.toLong * j % 97)) % 256
      h = (h ^ b) * 1099511628211L
      j += 1
    }
    h
  }

  test("build/parse round trip: geometry and hashes match the formula") {
    val id = 8L // g = 2: n_frames = 10, width = 18
    val frames = Multimodal.frameHashesOf(Multimodal.syntheticVideo(id), 1)
    assert(frames.map(_._1) == (0 until 10))
    assert(frames.forall { case (_, n, w, h, _) => n == 10 && w == 18 && h == 9 })
    frames.foreach { case (f, _, _, _, fp) =>
      assert(fp == formulaHash(2L, f), s"frame $f fingerprint diverged")
    }
  }

  test("stride sampling keeps only every stride-th frame") {
    val frames = Multimodal.frameHashesOf(Multimodal.syntheticVideo(8L), 2)
    assert(frames.map(_._1) == Seq(0, 2, 4, 6, 8))
    assert(Multimodal.frameHashesOf(Multimodal.syntheticVideo(8L), 3)
      .map(_._1) == Seq(0, 3, 6, 9))
  }

  test("four consecutive ids carry identical frames; groups differ") {
    val a = Multimodal.frameHashesOf(Multimodal.syntheticVideo(8L), 2)
    val b = Multimodal.frameHashesOf(Multimodal.syntheticVideo(11L), 2)
    val c = Multimodal.frameHashesOf(Multimodal.syntheticVideo(12L), 2)
    assert(a == b)                       // same group g = 2
    assert(a.map(_._5) != c.map(_._5))   // g = 3: different content
  }

  test("corrupt/hostile containers yield zero frames, never throw") {
    assert(Multimodal.frameHashesOf(Multimodal.syntheticVideo(15L), 2).isEmpty)
    assert(Multimodal.frameHashesOf(null, 2).isEmpty)
    assert(Multimodal.frameHashesOf(Array.emptyByteArray, 2).isEmpty)
    assert(Multimodal.frameHashesOf("GVIDgarbage".getBytes, 2).isEmpty)
    // bad magic
    val v = Multimodal.syntheticVideo(0L); v(0) = 'X'
    assert(Multimodal.frameHashesOf(v, 2).isEmpty)
    // frame length running past the buffer
    val t = java.util.Arrays.copyOf(Multimodal.syntheticVideo(0L), 20)
    assert(Multimodal.frameHashesOf(t, 2).isEmpty)
    // hostile frame count: huge be32 in the header
    val hv = Multimodal.syntheticVideo(0L)
    hv(4) = 0x7f.toByte
    assert(Multimodal.frameHashesOf(hv, 2).isEmpty)
  }

  test("share census: every frame of a full group is shared by 4 videos") {
    val ss = spark
    import ss.implicits._
    val vids = ss.range(0, 8, 1, 3) // groups 0 and 1, no corrupt ids
      .map(id => (id, Multimodal.syntheticVideo(id)))
      .toDF("doc_id", "payload")
    val out = Multimodal.videoFrameDedup(vids, 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(6) == 4L))
    // group 0: 6 frames -> 3 sampled; group 1: 8 frames -> 4 sampled
    val byVid = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert((0L to 3L).forall(byVid(_) == 3) && (4L to 7L).forall(byVid(_) == 4))
  }

  test("corrupt id inside a group lowers only that group's share count") {
    val ss = spark
    import ss.implicits._
    val vids = ss.range(12, 16, 1, 2) // group 3; id 15 is corrupt
      .map(id => (id, Multimodal.syntheticVideo(id)))
      .toDF("doc_id", "payload")
    val out = Multimodal.videoFrameDedup(vids, 2).collect()
    assert(out.map(_.getLong(0)).toSet == Set(12L, 13L, 14L))
    assert(out.forall(_.getLong(6) == 3L))
  }
}
