package graft.spark

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming quality gate: hand-computed score/accept semantics on
  * controlled text (independent ground truth), and stream == batch
  * equality through the full extraction pipeline (the gate is pure
  * projections, so Structured Streaming and batch must agree
  * bit-for-bit). */
class StreamQualityGateSpec extends AnyFunSuite with SparkSuite {

  test("gate semantics on hand-computed docs") {
    import spark.implicits._
    // doc 1: 6 tokens all stopwords, 18 chars, 0 punct ->
    //   quality = 0.4*min(1, 6/100) + 0.3*min(1, 6*8/6) + 0.3*(1-0)
    //           = 0.024 + 0.3 + 0.3 = 0.624 ; en markers > 0 -> accept
    // doc 2: pure punctuation -> 1 token, 0 stop, punct==chars ->
    //   quality = 0.4*0.01 + 0 + 0.3*(1-1) = 0.004 ; lang und -> reject
    // doc 3: empty text -> lang 'und', rejected regardless of score
    val d = Seq((1L, "the a of to in and"), (2L, "@@@@@"), (3L, ""))
      .toDF("doc_id", "text")
    val out = ExtractStreamJob.qualityGate(d).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Double]("quality"),
        r.getAs[String]("lang_pred"), r.getAs[Boolean]("accept")))).toMap
    assert(out(1L) == ((0.624, "en", true)))
    assert(out(2L)._1 == 0.004)
    assert(out(2L)._2 == "und" && !out(2L)._3)
    assert(out(3L)._2 == "und" && !out(3L)._3)
    // gate must preserve the input columns
    assert(ExtractStreamJob.qualityGate(d).columns.startsWith(Array("doc_id", "text")))
  }

  test("threshold and language list are honored") {
    import spark.implicits._
    val d = Seq((1L, "the a of to in and")).toDF("doc_id", "text")
    assert(!ExtractStreamJob.qualityGate(d, minQuality = 0.7)
      .head().getAs[Boolean]("accept"))
    assert(!ExtractStreamJob.qualityGate(d, acceptLangs = Seq("de"))
      .head().getAs[Boolean]("accept"))
  }

  test("stream == batch through the full extraction pipeline") {
    val base = java.nio.file.Files.createTempDirectory("gate_eq").toString
    PagesGen.writeBucketed(PagesGen.generate(spark, 40, seed = 7L, parallelism = 4),
      s"$base/pages", nBuckets = 4)
    // batch arm
    val batch = ExtractStreamJob.qualityGate(
      ExtractJob.extract(spark.read.parquet(s"$base/pages"),
        ExtractJob.Config(salt = false)).toDF())
      .select(col("url"), col("quality"), col("lang_pred"), col("accept"),
        xxhash64(col("text")).as("h"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    // stream arm
    val schema = spark.read.parquet(s"$base/pages").schema
    val pages = spark.readStream.schema(schema).parquet(s"$base/pages")
    val q = ExtractStreamJob.qualityGate(
      ExtractJob.extract(pages, ExtractJob.Config(salt = false)).toDF())
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stream = spark.read.parquet(s"$base/out")
      .select(col("url"), col("quality"), col("lang_pred"), col("accept"),
        xxhash64(col("text")).as("h"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(stream.nonEmpty && stream.toSeq == batch.toSeq)
    // the gate genuinely partitions the corpus (both outcomes occur)
    val accepts = stream.map(_(3)).toSet
    assert(accepts == Set(true, false))
  }
}
