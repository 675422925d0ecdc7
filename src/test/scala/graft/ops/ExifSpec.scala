package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** EXIF plumbing ([[Multimodal.syntheticExifJpeg]] / exifOf /
  * exifCensus):
  *  - hand-computed fields for a little-endian GPS image, a big-endian
  *    plain image, the no-APP1 arm and the truncated arm;
  *  - a full JVM closed-form replication of the 200-image corpus
  *    equals the engine census (the oracle's formula, independently
  *    restated here);
  *  - structural-violation hardening: flipped endian magic, bad TIFF
  *    magic, entry count bomb, and an out-of-bounds rational offset
  *    all return the absent tuple rather than throwing.
  */
class ExifSpec extends AnyFunSuite with SparkSuite {

  /** The generator formula, restated independently (mirrors the
    * oracle SQL, not the parser). */
  private def closedForm(id: Long): (Long, Long, String, Long, Long, Long, Long, Long, Long) = {
    val hasApp1 = id % 4 != 3
    val trunc = id % 8 == 1
    val gpsBuilt = hasApp1 && id % 3 == 0
    val ok = hasApp1 && !trunc
    val nBytes =
      if (trunc) 12L
      else 2L + (if (hasApp1) { if (gpsBuilt) 182L else 68L } else 0L) + 41L + id % 9
    val bo = if (!ok) "none" else if (id % 2 == 0) "II" else "MM"
    val lat =
      if (ok && gpsBuilt)
        (if (id % 2 == 0) 1L else -1L) *
          ((id % 90) * 360000L + (id % 60) * 6000L + (id * 37) % 6000)
      else 0L
    val lon =
      if (ok && gpsBuilt)
        (if (id % 4 < 2) 1L else -1L) *
          ((id % 180) * 360000L + ((id * 7) % 60) * 6000L + (id * 53) % 6000)
      else 0L
    (nBytes, if (ok) 1L else 0L, bo,
      if (ok) 1 + id % 8 else 0L, if (ok) 1 + id % 28 else 0L,
      if (ok && gpsBuilt) 1L else 0L, lat, lon,
      if (ok) { if (gpsBuilt) 182L else 68L } else 0L)
  }

  test("hand-computed arms: II+GPS, MM plain, no-APP1, truncated") {
    // id=0: even → II, 0%3==0 → GPS, 0%4<2 → E, lat N
    val r0 = Multimodal.exifOf(Multimodal.syntheticExifJpeg(0))
    assert(r0 == ((1L, "II", 1L, 1L, 1L, 0L, 0L, 182L)))
    // id=6: II + GPS; lat=+(6*360000 + 6*6000 + 222)=2196222;
    // lon: 6%4=2 → W: -(6*360000 + 42*6000 + 318)=-2412318
    val r6 = Multimodal.exifOf(Multimodal.syntheticExifJpeg(6))
    assert(r6 == ((1L, "II", 7L, 7L, 1L, 2196222L, -2412318L, 182L)))
    // id=5: odd → MM, 5%3!=0 → no GPS, ori=6, day=6
    val r5 = Multimodal.exifOf(Multimodal.syntheticExifJpeg(5))
    assert(r5 == ((1L, "MM", 6L, 6L, 0L, 0L, 0L, 68L)))
    // id=3: no APP1 → absent
    assert(Multimodal.exifOf(Multimodal.syntheticExifJpeg(3))._1 == 0L)
    // id=9: truncated at 12 bytes → absent
    val b9 = Multimodal.syntheticExifJpeg(9)
    assert(b9.length == 12)
    assert(Multimodal.exifOf(b9)._1 == 0L)
  }

  test("engine census equals the closed form over the full corpus") {
    import spark.implicits._
    val imgs = spark.range(0, 200, 1, 4)
      .map(id => (id, Multimodal.syntheticExifJpeg(id)))
      .toDF("doc_id", "payload")
    val got = Multimodal.exifCensus(imgs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))).toMap
    assert(got.size == 200)
    (0L until 200L).foreach { id =>
      assert(got(id) == closedForm(id), s"id=$id")
    }
  }

  test("structural violations skip, never throw") {
    val good = Multimodal.syntheticExifJpeg(0)
    // flip the endian magic to garbage
    val badEndian = good.clone()
    badEndian(12) = 'X'.toByte // tiffBase = 2 + 2 + 2 + 6 = 12
    assert(Multimodal.exifOf(badEndian)._1 == 0L)
    // break the TIFF magic 42
    val badMagic = good.clone()
    badMagic(14) = 99.toByte
    assert(Multimodal.exifOf(badMagic)._1 == 0L)
    // entry-count bomb in IFD0 (offset 12 + 8 = 20)
    val bomb = good.clone()
    bomb(20) = 0xff.toByte; bomb(21) = 0xff.toByte
    assert(Multimodal.exifOf(bomb)._1 == 0L)
    // null / tiny / non-JPEG payloads
    assert(Multimodal.exifOf(null)._1 == 0L)
    assert(Multimodal.exifOf(Array[Byte](1, 2, 3))._1 == 0L)
    assert(Multimodal.exifOf("not a jpeg at all".getBytes)._1 == 0L)
  }
}
