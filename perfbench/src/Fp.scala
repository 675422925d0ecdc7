package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Dataset
import graft.html.BoilerplateStripper
import graft.pdf.{ConversionOptions, PdfExtractor}

/** Order-independent fingerprints: a multiset of rows is summarised as the
  * wrapping sum of a 64-bit hash per row, so a missing, duplicated or
  * altered row changes the sum whatever order the rows arrive in. */
object Fp {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def str(s: String): Long =
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  def url(u: String): Long = mix(str(u))
  def row(u: String, text: String): Long = mix(str(u) * 31 + str(text))
  def longs(u: String, xs: Long*): Long = mix(xs.foldLeft(str(u))((h, x) => mix(h ^ x)))

  /** Text the program must emit for one payload, from the kernels called
    * directly in this JVM, outside Spark. */
  def kernelText(bytes: Array[Byte]): String =
    if (PdfExtractor.isPdf(bytes)) PdfExtractor.extract(bytes, ConversionOptions()).text
    else BoilerplateStripper.extractAll(bytes)._1

  /** Expected (url-sum, row-sum) over collected (url, payload) rows. */
  def reference(rows: Array[(String, Array[Byte])]): (Long, Long) = {
    val fp = new Array[Long](rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
      fp(i) = row(rows(i)._1, kernelText(rows(i)._2))
    }
    (rows.map(r => url(r._1)).sum, fp.sum)
  }

  /** Consumes every extracted row inside its own task (a sink with no
    * exchange) and returns one summary per partition. */
  def fold(docs: Dataset[FoldRow], keepDurations: Boolean): Array[PartFold] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      var n, urlSum, rowSum, errors = 0L
      var busy = 0.0
      var pid = -1
      val durs = Array.newBuilder[Float]
      it.foreach { d =>
        n += 1
        urlSum += url(d.url)
        rowSum += row(d.url, d.text)
        if (d.status != "ok") errors += 1
        busy += d.duration_ms
        pid = d.partition_id
        if (keepDurations) durs += d.duration_ms.toFloat
      }
      Iterator(PartFold(n, urlSum, rowSum, errors, pid, busy, durs.result()))
    }.collect()
  }
}

/** The columns of an extraction output row the sink reads. */
final case class FoldRow(url: String, text: String, status: String, duration_ms: Double,
                         partition_id: Int)

final case class PartFold(n: Long, urlSum: Long, rowSum: Long, errors: Long,
                          pid: Int, busyMs: Double, durations: Array[Float])
