package graft.spark

import graft.SparkSuite
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extraction: backlog processed exactly-once; late-arriving
  * files picked up on restart from the same checkpoint. */
class ExtractStreamSpec extends AnyFunSuite with SparkSuite {

  test("AvailableNow stream extracts backlog then new files exactly once") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$dir/pages"
    val outDir = s"$dir/out"
    val ckpt = s"$dir/ckpt"

    // initial backlog: 30 docs
    PagesGen.generate(spark, 30, seed = 5, parallelism = 2)
      .write.mode("overwrite").parquet(pagesDir)
    val q1 = ExtractStreamJob.start(spark, pagesDir, outDir, ckpt)
    q1.awaitTermination(120000)
    assert(spark.read.parquet(outDir).count() == 30)

    // 20 new docs (ids 30..49) land; restart from the same checkpoint →
    // only the new files are processed
    PagesGen.generate(spark, 20, seed = 5, parallelism = 2, startId = 30)
      .write.mode("append").parquet(pagesDir)
    val q2 = ExtractStreamJob.start(spark, pagesDir, outDir, ckpt)
    q2.awaitTermination(120000)

    val out = spark.read.parquet(outDir)
    assert(out.count() == 50, s"expected 50, got ${out.count()}")
    assert(out.select("url").distinct().count() == 50)
    assert(out.filter("status <> 'ok'").count() == 0)
  }
}
