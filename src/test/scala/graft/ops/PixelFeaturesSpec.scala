package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Real pixel decode (ImageIO) + perceptual aHash: hand-computed
  * ground truth on constructed images, determinism, failure
  * degradation, and the banded image near-dup operator against
  * brute-force hamming truth. */
class PixelFeaturesSpec extends AnyFunSuite with SparkSuite {

  private def png(fill: java.awt.image.BufferedImage => Unit,
                  w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    fill(img)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("hand-computed luma + aHash on a half-black/half-white image") {
    // left 8 columns black (luma 0), right 8 columns white (luma 255000)
    val bytes = png { img =>
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
    }
    val Some((w, h, luma, ahash)) = Multimodal.pixelFeaturesOf(bytes)
    assert(w == 16 && h == 16)
    // white pixel luma = (299+587+114)*255 = 255000; mean with black = 127500
    assert(luma == 127500L)
    // blocks: grid columns 0-3 black (mean 0 < gmean), 4-7 white (≥) —
    // bit bi set iff block column ≥ 4: mask per row = 0xF0
    val expected = (0 until 8).map(r => 0xF0L << (8 * r)).reduce(_ | _)
    assert(ahash == expected, f"ahash=$ahash%016x expected=$expected%016x")
  }

  test("single-color image: all blocks equal the mean, all bits set") {
    val bytes = png { img =>
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x808080)
    }
    val Some((_, _, luma, ahash)) = Multimodal.pixelFeaturesOf(bytes)
    assert(luma == 128000L)
    assert(ahash == -1L) // every block mean >= global mean
  }

  test("decode failures degrade: garbage and empty payloads") {
    assert(Multimodal.pixelFeaturesOf("not an image".getBytes).isEmpty)
    assert(Multimodal.pixelFeaturesOf(Array.emptyByteArray).isEmpty)
    import spark.implicits._
    val df = Seq((1L, "junk".getBytes), (2L, Array.emptyByteArray))
      .toDF("doc_id", "payload")
    val rows = Multimodal.pixelFeatures(df).collect()
    assert(rows.length == 2 && rows.forall(!_.decoded))
  }

  test("syntheticPng variants: hamming == invert-prefix difference; groups far apart") {
    def ah(g: Long, v: Int): Long =
      Multimodal.pixelFeaturesOf(Multimodal.syntheticPng(g, v)).get._4
    val g0 = (0 to 3).map(ah(0L, _))
    for (i <- 0 to 3; j <- 0 to 3)
      assert(java.lang.Long.bitCount(g0(i) ^ g0(j)) == math.abs(i - j),
        s"variant pair ($i,$j)")
    val cross = java.lang.Long.bitCount(ah(0L, 0) ^ ah(1L, 0))
    assert(cross > 16, s"distinct groups must be far apart, got $cross")
  }

  test("hammingNearDups64 over aHashes equals brute-force truth") {
    import spark.implicits._
    val items = (0L until 40L).map { id =>
      (id, Multimodal.pixelFeaturesOf(
        Multimodal.syntheticPng(id / 4, (id % 4).toInt)).get._4)
    }
    val truth = (for {
      (a, ha) <- items; (b, hb) <- items if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    assert(truth.size == 10 * 6, "each group contributes its 6 variant pairs")
    val found = Dedup.hammingNearDups64(
      items.toDF("doc_id", "h"), maxDist = 6, bucketCap = 500)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"missing=${truth -- found} extra=${found -- truth}")
  }
}
