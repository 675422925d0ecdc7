package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental variant of the extraction job (SURVEY §1.2 / §7 — the
  * optional Structured Streaming path): new page files landing in the
  * input directory are extracted exactly-once via the streaming
  * checkpoint, with the same per-row kernel as the batch job. The
  * stateless transform needs no watermark; resume-after-kill comes from
  * the sink's checkpointLocation instead of the batch checkpoint table.
  */
object ExtractStreamJob {

  /** Start a file-source stream over `pagesDir` (bucketed parquet
    * layout, read with its known schema: no inference job), writing
    * extracted docs to `outDir`. AvailableNow trigger processes the
    * backlog then stops — the batch-equivalent mode; pass
    * `continuous = true` for an always-on micro-batch stream. */
  def start(spark: SparkSession, pagesDir: String, outDir: String,
            checkpointDir: String, cfg: ExtractJob.Config = ExtractJob.Config(salt = false),
            continuous: Boolean = false): StreamingQuery = {
    val pages: DataFrame = spark.readStream
      .schema(PagesGen.bucketedSchema)
      .option("maxFilesPerTrigger", "64")
      .parquet(pagesDir)
    val extracted = ExtractJob.extract(pages, cfg.copy(salt = false))
    // (salt routing needs a repartition — legal in streaming too, but the
    // heavy-tier split would start two sinks; the incremental path keeps
    // the scan-local tier and relies on oversizeCap for giants)
    val writer = extracted.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
    (if (continuous) writer.trigger(Trigger.ProcessingTime("10 seconds"))
     else writer.trigger(Trigger.AvailableNow())).start()
  }

  /** Watermarked windowed crawl-quality metrics: per (event-time
    * window, host) extraction counts/ok-rate/bytes — the monitoring
    * aggregation a continuous ingestion pipeline runs beside the
    * extraction sink. The 10-minute watermark bounds window state, so
    * state size is O(hosts × open windows) regardless of stream length;
    * append mode emits each window once, when the watermark passes it. */
  def qualityMetrics(pages: DataFrame,
                     cfg: ExtractJob.Config = ExtractJob.Config(salt = false),
                     windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val rows = pages
      .select(org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.col("warc_ts"),
        org.apache.spark.sql.functions.col("html"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (u, ts, html) =>
          val d = ExtractJob.extractOne(u, html, 0, cfg, graft.pdf.Outputs.TextOnly)
          (u, ts, d.status, d.n_bytes, d.n_pages.toLong)
        }
      }.toDF("url", "warc_ts", "status", "n_bytes", "n_pages")
    aggregateQuality(rows, windowLen, watermark)
  }

  /** The production shape of [[qualityMetrics]]: aggregate the rows the
    * extraction sink ALREADY produced instead of re-running extraction
    * per row. `extracted` must carry (url, warc_ts, status, n_bytes,
    * n_pages) — i.e. the sink output joined/zipped with the page event
    * time. Same window/watermark/aggregates as the stream-driven
    * variant, so a monitoring job can be pointed at either. */
  def qualityMetricsFromExtracted(extracted: DataFrame,
                                  windowLen: String = "1 hour",
                                  watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.col
    aggregateQuality(
      extracted.select(col("url"), col("warc_ts"), col("status"),
        col("n_bytes"), col("n_pages").cast("long").as("n_pages")),
      windowLen, watermark)
  }

  /** Shared watermarked window-agg over (url, warc_ts, status, n_bytes,
    * n_pages). Host parse mirrors the original row-kernel logic: text
    * between the first "://" and the next '/' ("" when no scheme). */
  private[spark] def aggregateQuality(rows: DataFrame, windowLen: String,
                                      watermark: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val afterScheme = col("url").substr(instr(col("url"), "://") + 3, lit(Int.MaxValue))
    val host = when(instr(col("url"), "://") === 0, lit(""))
      .otherwise(substring_index(afterScheme, "/", 1))
    rows
      .withColumn("host", host)
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), windowLen), col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(col("n_pages")).as("n_pages"))
  }

  /** Stateless streaming quality gate: score each extracted document
    * (composite quality heuristic + marker-based language ID — the SAME
    * column expressions as the batch ops, so batch and stream agree
    * bit-for-bit) and stamp an `accept` routing flag instead of
    * filtering. Pure projections — no watermark, no state, valid in any
    * output mode; the caller routes on `accept` (e.g. partitionBy at
    * the sink) so rejected docs stay auditable rather than vanishing.
    *
    * Deliberately NOT filtering here also sidesteps the
    * predicate-pushdown CASE-explosion documented on
    * [[graft.ops.TextAnalysis.langId]]: a filter on the computed
    * columns inside this plan would re-inline the argmax per branch.
    * Docs with null/failed text get null quality/accept — route them
    * by `status` upstream. */
  def qualityGate(docs: DataFrame, minQuality: Double = 0.6,
                  acceptLangs: Seq[String] = Seq("en")): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.ops.TextAnalysis.withLangPred(graft.ops.TextAnalysis.withQuality(docs))
      .withColumn("accept",
        col("quality") >= minQuality && col("lang_pred").isInCollection(acceptLangs))
  }

  /** Stateful streaming URL dedup (flatMapGroupsWithState): the
    * canonical crawl-ingestion guard — only the FIRST occurrence of
    * each url ever passes; re-crawls and duplicate WARC entries are
    * dropped across micro-batches via per-key state. Event-time
    * timeout + the caller's watermark bound the state table: a key's
    * seen-flag expires once no duplicate can still arrive. Works
    * identically on batch DataFrames (state spans the one batch). */
  def dedupFirstSeen(pages: DataFrame,
                     stateTimeoutMs: Long = 30L * 24 * 3600 * 1000): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = pages
      .select(col("url"), col("warc_ts"), col("html"))
      .withWatermark("warc_ts", "10 minutes")
      .as[(String, java.sql.Timestamp, Array[Byte])]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (url: String, rows: Iterator[(String, java.sql.Timestamp, Array[Byte])],
         state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // url already emitted
          else {
            // Deterministic intra-batch winner: when several rows for one
            // url land in the SAME micro-batch, survive the earliest
            // warc_ts; ties break on unsigned-lexicographic payload bytes
            // (partition iteration order must not decide which payload
            // the corpus keeps).
            val first = rows.reduceLeft { (a, b) =>
              val c = java.lang.Long.compare(a._2.getTime, b._2.getTime)
              if (c < 0) a
              else if (c > 0) b
              else if (java.util.Arrays.compareUnsigned(a._3, b._3) <= 0) a
              else b
            }
            state.update(true)
            // Expire the seen-flag stateTimeoutMs after the FIRST-SEEN
            // event time (not after the current watermark — on the first
            // batch the watermark is 0/epoch, which would expire the key
            // as soon as a real watermark appears). Spark requires the
            // timeout to sit above the current watermark.
            state.setTimeoutTimestamp(
              math.max(first._2.getTime + stateTimeoutMs,
                state.getCurrentWatermarkMs() + 1L))
            Iterator.single(first)
          }
        })
      .toDF("url", "warc_ts", "html")
  }

}
