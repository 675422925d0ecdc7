package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** WAV parse + clip stats against HAND-BUILT containers and
  * hand-computed expectations — independent ground truth (no byte or
  * number below comes from the engine or the generator). */
class AudioSpec extends AnyFunSuite with SparkSuite {

  /** Hand-roll a WAV: header + optional junk chunk + int16 samples. */
  private def wav(channels: Int, rate: Int, samples: Seq[Int],
      junk: Option[Array[Byte]] = None,
      declaredFrames: Option[Int] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def tag(s: String): Unit = s.foreach(c => out.write(c.toInt))
    val blockAlign = channels * 2
    val dataDecl = declaredFrames.map(_ * blockAlign)
      .getOrElse(samples.size * 2)
    val junkTotal = junk.map(j => 8 + j.length + (j.length & 1)).getOrElse(0)
    tag("RIFF"); le32(4 + 24 + junkTotal + 8 + dataDecl); tag("WAVE")
    tag("fmt "); le32(16); le16(1); le16(channels); le32(rate)
    le32(rate * blockAlign); le16(blockAlign); le16(16)
    junk.foreach { j =>
      tag("LIST"); le32(j.length); out.write(j)
      if ((j.length & 1) == 1) out.write(0)
    }
    tag("data"); le32(dataDecl)
    samples.foreach(le16)
    out.toByteArray
  }

  test("mono clip: peak/energy/position-weighted sum/silence by hand") {
    // samples 0, +1000, +1000, -1000, -1000, +1000 at 8 kHz:
    //   peak 1000, energy 5e6,
    //   posW = 1000*(2+3-4-5+6) = 2000, n_silent 1,
    //   duration 6*1000/8000 = 0 ms (integer division)
    val b = wav(1, 8000, Seq(0, 1000, 1000, -1000, -1000, 1000))
    assert(Multimodal.audioFeaturesOf(b) ===
      Some((8000, 1, 6L, 0L, 1000L, 5000000L, 2000L, 1L)))
  }

  test("stereo interleave: odd positions are the right channel") {
    // frames (L,R): (100,-200), (-300,2) — interleaved k+1 = 1..4:
    //   posW = 100*1 - 200*2 - 300*3 + 2*4 = -1192
    //   energy = 10000+40000+90000+4 = 140004, peak 300, n_silent 1
    val b = wav(2, 16000, Seq(100, -200, -300, 2))
    assert(Multimodal.audioFeaturesOf(b) ===
      Some((16000, 2, 2L, 0L, 300L, 140004L, -1192L, 1L)))
  }

  test("junk chunk with odd size is skipped via the RIFF pad byte") {
    val plain = wav(1, 8000, Seq(7, -7))
    val junked = wav(1, 8000, Seq(7, -7), junk = Some(Array[Byte](1, 2, 3)))
    assert(Multimodal.audioFeaturesOf(junked) ===
      Multimodal.audioFeaturesOf(plain))
    assert(Multimodal.audioFeaturesOf(junked).isDefined)
  }

  test("truncated data clamps to complete frames actually present") {
    // declares 5 stereo frames, carries 2 full + 1 half frame: the
    // dangling half frame (one int16 of frame 3) must be ignored
    val b = wav(2, 44100, Seq(10, 20, 30, 40, 50), declaredFrames = Some(5))
    assert(Multimodal.audioFeaturesOf(b) ===
      Some((44100, 2, 2L, 0L, 40L, 10 * 10 + 20 * 20 + 30 * 30 + 40 * 40L,
        10 + 20 * 2 + 30 * 3 + 40 * 4L, 0L)))
  }

  test("malformed payloads become absent rows, never failures") {
    assert(Multimodal.audioFeaturesOf(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.audioFeaturesOf("RIFFxxxxWAVE".getBytes).isEmpty)
    // 8-bit PCM rejected (parser is PCM-16 only)
    val bad = wav(1, 8000, Seq(1))
    bad(34) = 8 // bits-per-sample field
    assert(Multimodal.audioFeaturesOf(bad).isEmpty)
    // float format rejected
    val badFmt = wav(1, 8000, Seq(1))
    badFmt(20) = 3 // audioFormat = IEEE float
    assert(Multimodal.audioFeaturesOf(badFmt).isEmpty)
  }

  test("DataFrame surface: silence_frac is n_silent over all samples") {
    import spark.implicits._
    val df = Seq((0L, wav(2, 8000, Seq(0, 0, 1000, -800))))
      .toDF("doc_id", "payload")
    val row = Multimodal.audioFeatures(df).collect()(0)
    assert(row.getAs[Long]("n_silent") === 2L)
    assert(row.getAs[Double]("silence_frac") === 0.5)
  }

  test("generator round trip: declared-vs-actual truncation at id 17k") {
    // id 34: nf declared 200+31*(34%13)=448, truncated to 224
    val f = Multimodal.audioFeaturesOf(Multimodal.syntheticWav(34L)).get
    assert(f._3 === 224L)
    // id 1: full 231 frames, stereo, 16 kHz
    val g = Multimodal.audioFeaturesOf(Multimodal.syntheticWav(1L)).get
    assert((g._1, g._2, g._3) === ((16000, 2, 231L)))
  }
}
