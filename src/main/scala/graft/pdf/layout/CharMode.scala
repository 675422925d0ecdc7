package graft.pdf.layout

import scala.collection.mutable

/** Legacy char-mode layout pipeline: positioned characters → spatial
  * word clusters → line clusters → heading-tagged markdown/HTML lines.
  *
  * Re-implements the reference's non-ml fallback path
  * (reference: src/layout/clustering.rs:233-353
  * cluster_chars_into_words / cluster_words_into_lines;
  * src/converters/markdown.rs:418-520 convert_page char mode;
  * src/extractors/text.rs:1130-1174 sort_by_reading_order). The span
  * pipeline (TextExtractor → XY-Cut) is the primary path — this one
  * exists for parity with the reference's deprecated char-clustering
  * mode, including its documented quirks:
  *  - line text is the raw concatenation of clustered word chars
  *    (reference TextBlock::from_chars — "word spacing is handled at
  *    markdown level", i.e. only space GLYPHS separate words);
  *  - `'`/`"` show-operator text IS visible here (it lands in the char
  *    vec) although the span path drops it — the differential quirk
  *    the span extractor documents.
  */
object CharMode {

  /** One positioned glyph (reference: src/layout/text_block.rs TextChar). */
  final case class TextChar(
      text: String, // decoded glyph (usually one char)
      x: Float, y: Float,
      width: Float, height: Float,
      fontSize: Float,
      bold: Boolean)

  private def centerX(c: TextChar): Float = c.x + c.width / 2f
  private def centerY(c: TextChar): Float = c.y + c.height / 2f

  /** Spatial BFS word clustering (reference: clustering.rs:233-343):
    * two chars connect when their centers are on the same line
    * (|dy| < fontSize·0.5) AND horizontally within epsilon. Checks ALL
    * chars, not just consecutive — chars may arrive out of order.
    * Clusters come back sorted by left edge.
    *
    * Round 6: the BFS expansion consults a center-x GRID INDEX
    * (bucket width = nextUp(epsilon)) instead of rescanning every char
    * per frontier node — a match sits in the same or an adjacent bucket,
    * so candidate generation is LOSSLESS and the quadratic inner scan
    * becomes neighborhood-sized (measured 10 µs/char → sub-µs on the
    * dense bench doc). Byte-identical output: candidates are visited
    * in ascending original index (each bucket stores ascending
    * indices; the 3-bucket merge re-sorts), the float comparisons are
    * the exact same expressions, and a NaN coordinate joins nothing
    * in either formulation (every comparison on it is false).
    *
    * Why one ULP wider than ε: the test is on the float difference, which
    * can round a true gap just above ε down to ε (a half-ULP tie). Any
    * gap whose float difference is ≤ ε is < nextUp(ε) exactly, and two
    * centers less than one bucket apart are at most one bucket apart;
    * buckets of width ε could put such a pair two apart and miss it. */
  def clusterCharsIntoWords(chars: IndexedSeq[TextChar], epsilon: Float): Vector[Vector[Int]] = {
    if (chars.isEmpty) return Vector.empty
    if (chars.length == 1) return Vector(Vector(0))
    val n = chars.length
    val bw = if (epsilon > 0f) Math.nextUp(epsilon).toDouble else 1e-6
    // y bucket height = the page-max dy window: dy < cur.fontSize·0.5
    // ≤ maxFS·0.5 = bh ⇒ a true match is within ±1 y-bucket of cur —
    // still lossless for every per-char window
    var maxFs = 0f
    var fi = 0
    while (fi < n) {
      val f = chars(fi).fontSize
      if (f > maxFs) maxFs = f // NaN compares false, skipped
      fi += 1
    }
    val bh = if (maxFs > 0f) maxFs.toDouble * 0.5 else 1e-6
    def bIdx(v: Float, w: Double): Long = {
      val b = math.floor(v.toDouble / w)
      if (b.isNaN) 0L else b.toLong // NaN centers never match anyway
    }
    // packed 2D key; hash collisions only ADD candidates, every one of
    // which is re-verified by the exact original condition
    def keyOf(bx: Long, by: Long): Long = bx * 2000003L + by
    val buckets = new java.util.HashMap[Long, mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < n) {
      val c = chars(i)
      buckets.computeIfAbsent(
        keyOf(bIdx(centerX(c), bw), bIdx(centerY(c), bh)),
        _ => mutable.ArrayBuffer.empty[Int]) += i
      i += 1
    }
    val visited = new Array[Boolean](n)
    val cand = new mutable.ArrayBuffer[Int]()
    val clusters = Vector.newBuilder[Vector[Int]]
    i = 0
    while (i < n) {
      if (!visited(i)) {
        val cluster = mutable.ArrayBuffer(i)
        visited(i) = true
        var j = 0
        while (j < cluster.length) {
          val cur = chars(cluster(j))
          val bx0 = bIdx(centerX(cur), bw)
          val by0 = bIdx(centerY(cur), bh)
          cand.clear()
          var d = -1
          while (d <= 1) {
            var dy0 = -1
            while (dy0 <= 1) {
              val lst = buckets.get(keyOf(bx0 + d, by0 + dy0))
              if (lst != null) {
                var q = 0
                while (q < lst.length) {
                  if (!visited(lst(q))) cand += lst(q)
                  q += 1
                }
              }
              dy0 += 1
            }
            d += 1
          }
          // ascending original index = the full-scan visit order
          val cs = cand.sorted
          var ci = 0
          while (ci < cs.length) {
            val k = cs(ci)
            if (!visited(k)) {
              val other = chars(k)
              val dx = math.abs(centerX(cur) - centerX(other))
              val dy = math.abs(centerY(cur) - centerY(other))
              if (dy < cur.fontSize * 0.5f && dx <= epsilon) {
                cluster += k
                visited(k) = true
              }
            }
            ci += 1
          }
          j += 1
        }
        clusters += cluster.sortBy(idx => chars(idx).x).toVector
      }
      i += 1
    }
    clusters.result()
  }

  /** A clustered word/line block (reference TextBlock subset). */
  final case class Block(
      text: String,
      x: Float, y: Float, right: Float, top: Float,
      avgFontSize: Float,
      bold: Boolean,
      chars: Vector[TextChar])

  def blockOf(chars: Vector[TextChar]): Block = {
    require(chars.nonEmpty, "empty block")
    val x0 = chars.map(_.x).min
    val y0 = chars.map(_.y).min
    val x1 = chars.map(c => c.x + c.width).max
    val y1 = chars.map(c => c.y + c.height).max
    Block(chars.map(_.text).mkString, x0, y0, x1, y1,
      chars.map(_.fontSize).sum / chars.length,
      chars.exists(_.bold), chars)
  }

  /** Column-aware line clustering (reference: clustering.rs:353-420):
    * words join a line when |dy| ≤ epsilonY AND the horizontal gap is
    * under the 50pt column-gap threshold (keeps columns apart). */
  def clusterWordsIntoLines(words: IndexedSeq[Block], epsilonY: Float = 5f,
                            columnGap: Float = 50f): Vector[Vector[Int]] = {
    if (words.isEmpty) return Vector.empty
    // Round 6: same lossless y-grid index as clusterCharsIntoWords
    // (bucket width = εy; |dy| ≤ εy ⇒ same or adjacent bucket), same
    // ascending-index visit order ⇒ byte-identical clusters.
    val n = words.length
    val bw = if (epsilonY > 0f) epsilonY.toDouble else 1e-6
    def bucketOf(y: Float): Long = {
      val b = math.floor(y.toDouble / bw)
      if (b.isNaN) 0L else b.toLong
    }
    val buckets = new java.util.HashMap[Long, mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < n) {
      buckets.computeIfAbsent(bucketOf(words(i).y),
        _ => mutable.ArrayBuffer.empty[Int]) += i
      i += 1
    }
    val assigned = new Array[Boolean](n)
    val cand = new mutable.ArrayBuffer[Int]()
    val clusters = Vector.newBuilder[Vector[Int]]
    i = 0
    while (i < n) {
      if (!assigned(i)) {
        val cluster = mutable.ArrayBuffer(i)
        assigned(i) = true
        var j = 0
        while (j < cluster.length) {
          val cur = words(cluster(j))
          val b0 = bucketOf(cur.y)
          cand.clear()
          var d = -1
          while (d <= 1) {
            val lst = buckets.get(b0 + d)
            if (lst != null) {
              var q = 0
              while (q < lst.length) {
                if (!assigned(lst(q))) cand += lst(q)
                q += 1
              }
            }
            d += 1
          }
          val cs = cand.sorted
          var ci = 0
          while (ci < cs.length) {
            val k = cs(ci)
            if (!assigned(k)) {
              val other = words(k)
              if (math.abs(cur.y - other.y) <= epsilonY) {
                val xDist = math.min(
                  math.abs(cur.right - other.x), math.abs(other.right - cur.x))
                if (xDist < columnGap) {
                  cluster += k
                  assigned(k) = true
                }
              }
            }
            ci += 1
          }
          j += 1
        }
        clusters += cluster.sortBy(idx => words(idx).x).toVector
      }
      i += 1
    }
    clusters.result()
  }

  /** Heading level by size/weight (reference: heading_detector.rs
    * thresholds, same table the HTML converter uses). */
  private def headingPrefix(b: Block): String =
    if (b.avgFontSize >= 22f && b.bold) "# "
    else if (b.avgFontSize >= 16f && b.bold) "## "
    else if (b.avgFontSize >= 14f && b.bold) "### "
    else ""

  /** Char-mode page → markdown (reference: markdown.rs:418-520):
    * sort (y desc, x asc) → words at ε = 0.8·median font → lines at
    * ε_y = 5 → heading-tagged lines in sorted order. */
  def convertPage(charsIn: Seq[TextChar]): String = {
    if (charsIn.isEmpty) return ""
    val chars = charsIn.toVector.sortBy(c => (-c.y, c.x))
    val sizes = chars.map(_.fontSize).sorted
    val median = sizes(sizes.length / 2)
    val words = clusterCharsIntoWords(chars, median * 0.8f)
      .map(cl => blockOf(cl.map(chars)))
    if (words.isEmpty) return ""
    val lines = clusterWordsIntoLines(words)
      .map(cl => blockOf(cl.flatMap(idx => words(idx).chars)))
    val sb = new java.lang.StringBuilder
    lines.foreach { line =>
      val t = line.text.trim
      if (t.nonEmpty) {
        sb.append(headingPrefix(line)).append(t).append("\n\n")
      }
    }
    sb.toString.stripTrailing()
  }
}
