package graft.spark

import org.apache.spark.sql.SparkSession

/** Production entry point (north rule: "runs via spark-submit …
  * resumable from checkpoint"):
  *
  *   spark-submit --class graft.spark.ExtractMain app.jar \
  *     <pagesDir> <outDir> <checkpointDir> <runId> [oversizeCapMB]
  *
  * Reads the bucketed pages table with its known schema
  * (`PagesGen.readBucketed`, no inference job), resumes past
  * checkpointed urls, extracts and stages the bucketed output and the
  * per-partition lineage in one write, commits both by renames, prints
  * a one-line JSON report. Extraction is
  * the scan-local normal tier, plus the salted heavy tier unless the
  * table's manifest (`PagesGen.writeBucketed`) bounds every payload at
  * or below the heavy threshold. Re-running after a kill is idempotent
  * by url. No master is hardcoded — spark-submit supplies cluster
  * config.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ExtractMain <pagesDir> <outDir> <checkpointDir> <runId> [oversizeCapMB]")
    val Array(pagesDir, outDir, ckptDir, runId) = args.take(4)
    val capMb = if (args.length > 4) args(4).toLong else 64L
    val builder = SparkSession.builder()
      .appName(s"graft-extract-$runId")
      .config("spark.sql.adaptive.enabled", "true")
    // spark-submit supplies the master; SPARK_GRAFT_MASTER covers
    // direct runMain invocations (local testing)
    sys.env.get("SPARK_GRAFT_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val report = ExtractJob.runWithCheckpoint(
      spark, PagesGen.readBucketed(spark, pagesDir), outDir, ckptDir, runId,
      ExtractJob.Config(oversizeCapBytes = capMb * 1024 * 1024))
    val dt = (System.nanoTime() - t0) / 1e9
    println(
      f"""{"run_id":"$runId","attempted":${report.attempted},"ok":${report.ok},""" +
      f""""error":${report.error},"skipped_oversize":${report.skipped},""" +
      f""""wall_sec":$dt%.1f,"docs_per_sec":${report.attempted / math.max(dt, 0.001)}%.1f}""")
    spark.stop()
  }
}
