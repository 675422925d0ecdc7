package graft.spark

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, MapPartitions, Project, SerializeFromObject}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import graft.html.BoilerplateStripper
import graft.pdf.{Outputs, PdfExtractor}

/** The production job shape (SURVEY §3.3): pages table → per-row
  * extraction inside `mapPartitions` → Dataset[ExtractedDoc] + the
  * checkpoint/lineage table. Zero shuffles on the hot path unless skew
  * salting is enabled and a row may be heavy (then exactly one, to
  * spread oversized binaries).
  */
object ExtractJob {

  final case class Config(
      /** rows larger than this are skipped (`skipped_oversize`). */
      oversizeCapBytes: Long = 64L * 1024 * 1024,
      /** rows larger than this shuffle to dedicated heavy partitions. */
      heavyThresholdBytes: Long = 1L * 1024 * 1024,
      /** enable the salt-based skew routing (north rule). */
      salt: Boolean = true,
      maxPages: Int = PdfExtractor.DefaultMaxPages,
      /** password tried for encrypted PDFs (empty always tried too). */
      password: String = "",
      /** commit-lock staleness: a lock older than this is a crashed
        * committer and gets broken (commit = renames of the staged
        * checkpoint files and of the staged output; minutes, not hours,
        * even on a slow object store). */
      lockTtlMs: Long = 10L * 60 * 1000,
      /** bound on waiting for a live committer before failing loudly. */
      lockWaitMs: Long = 15L * 60 * 1000)

  /** Core transform: (url, html) → ExtractedDoc. Only `url` and `html`
    * survive the scan — Catalyst prunes the rest (verify: ReadSchema in
    * .explain should list exactly these two columns).
    *
    * Skew design (SURVEY §4.2): the NORMAL tier extracts scan-local —
    * zero shuffle; shuffling every payload byte through a salt
    * repartition made shuffle-file IO the scaling ceiling (profiled:
    * FileOutputStream.writeBytes was the top stack at local[16]). Only
    * the HEAVY tail (> heavyThresholdBytes) pays a shuffle, salted so
    * no partition carries two giants. The heavy exchange uses an
    * EXPLICIT partition count: extraction cost is per-row CPU, and
    * AQE's size-based coalescing would squeeze it into a couple of
    * 64MB partitions, idling the cluster.
    *
    * When no row can be heavy, there is no heavy tier: if `pages` reads
    * its `html` from manifested pages tables (`PagesGen.writeBucketed`)
    * whose recorded largest payload is at most heavyThresholdBytes,
    * [[PagesManifest.htmlBound]] proves it from the analyzed plan and
    * the normal tier is the whole plan, with no Exchange. Any other
    * input (no manifest, files the manifest does not name, an `html`
    * computed by an expression, a Union with an unbounded child) keeps
    * both tiers. The tiers never change output bytes, so a stale bound
    * could only cost balance.
    *
    * Markdown and html are built only when the query reads them: the
    * per-partition function is an [[ExtractPartitions]], and
    * [[PruneOutputs]], registered here on the session, clears the
    * outputs the optimized plan no longer serializes. */
  def extract(pages: DataFrame, cfg: Config = Config()): Dataset[ExtractedDoc] = {
    val pruned = pages.select(col("url"), col("html"))
    if (!cfg.salt) toDocs(pruned, cfg)
    else {
      // null-safe: a null payload is not heavy, so the normal tier keeps
      // it and it becomes the "empty payload" error row
      val heavyPred = coalesce(length(col("html")) > cfg.heavyThresholdBytes, lit(false))
      val normal = toDocs(pruned.filter(!heavyPred), cfg)
      if (PagesManifest.htmlBound(pruned).exists(_ <= cfg.heavyThresholdBytes)) normal
      else {
        val heavy = toDocs(
          pruned.filter(heavyPred)
            .withColumn("__salt", pmod(xxhash64(col("url"), lit(1)), lit(HeavySaltBuckets)))
            .repartition(exchangePartitions(pages.sparkSession), col("__salt"))
            .drop("__salt"), cfg)
        normal.unionAll(heavy)
      }
    }
  }

  /** Salt values of [[extract]]'s heavy tier. */
  private val HeavySaltBuckets = 64

  /** The explicit partition count of an extraction exchange. */
  private def exchangePartitions(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism * 2, 16)

  /** `(url, html)` rows through one [[ExtractPartitions]], every output
    * on until [[PruneOutputs]] (registered here) narrows it. */
  private def toDocs(rows: DataFrame, cfg: Config): Dataset[ExtractedDoc] = {
    PruneOutputs.register(rows.sparkSession)
    rows.as(payloadEncoder).mapPartitions(new ExtractPartitions(cfg, Outputs.All))(docEncoder)
  }

  /** [[toDocs]]'s encoders, derived once: deriving them by reflection
    * on every call was a visible share of the driver's time. */
  private lazy val payloadEncoder = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
  private lazy val docEncoder = Encoders.product[ExtractedDoc]

  /** Snapshot worklist for incremental crawls: classify every url
    * across two page snapshots (added / removed / changed / unchanged)
    * by 64-bit payload fingerprint — `Crawl.delta` over
    * (url, xxhash64(html)). Fingerprints are computed in the scan
    * stage, so only (url, 8-byte fp) pairs reach the full-outer join;
    * with both snapshots in the bucketed url-hash layout the sink
    * writes, the join is per-bucket and shuffle-free. */
  def incrementalWorklist(prevPages: DataFrame, curPages: DataFrame): DataFrame = {
    def fp(df: DataFrame) =
      df.select(col("url"), xxhash64(col("html")).as("fp"))
    graft.ops.Crawl.delta(fp(prevPages), fp(curPages))
  }

  /** Incremental extraction between crawl snapshots: extract ONLY the
    * urls whose payload is new or changed since `prevPages` —
    * unchanged documents (the overwhelming majority of a recurring
    * crawl) never re-enter the extraction kernel, and removed urls
    * fall out of the worklist entirely. The caller unions the result
    * with the previous snapshot's retained output (minus `removed`
    * urls from [[incrementalWorklist]]) to materialize the full
    * current corpus — that union is a metadata operation, not CPU.
    *
    * Same Config semantics as [[extract]]; the worklist join is
    * ids-only against the bucketed url layout. */
  def extractIncremental(prevPages: DataFrame, curPages: DataFrame,
                         cfg: Config = Config()): Dataset[ExtractedDoc] = {
    val work = incrementalWorklist(prevPages, curPages)
      .filter(col("status").isin("added", "changed"))
      .select("url")
    extract(curPages.join(work, Seq("url")), cfg)
  }

  /** Opt-in payload-level dedup-before-extract for high-duplication
    * crawl corpora: extraction runs ONCE per distinct payload and the
    * result fans back out to every url carrying those bytes.
    *
    * Shape: ONE explicit repartition on xxhash64(payload), then a
    * sortWithinPartitions on (hash, payload, url): exact, the raw BINARY
    * column stays in the sort key so colliding payloads can never
    * merge; the leading hash makes the sort resolve almost every
    * comparison on one long (crawl payloads share deep common prefixes —
    * every PDF opens with the same header bytes; keying on raw bytes
    * alone made each comparison scan to the first divergence, measured
    * at 1.7x the CPU of the whole plain extraction at dup=3). Every copy
    * of a payload lands ADJACENT with min(url) first, and the same
    * [[ExtractPartitions]] that [[extract]] runs extracts it once and
    * re-emits its row per url, since it reuses the row before whenever
    * a payload equals the one before it. So [[PruneOutputs]] narrows it
    * as it narrows [[extract]]: `select("url", "text")` builds neither
    * markdown nor html. Payload bytes cross the wire once and are
    * scanned once; no window, no join, no second computation of the
    * exchange. (An earlier window+filter+join formulation computed the
    * payload exchange twice — mapping arm and reps arm — and benched
    * SLOWER than no dedup at all.)
    *
    * Cost model (why opt-IN, default extract() stays shuffle-free):
    * the full corpus pays exactly one payload shuffle + sort; that buys
    * (1 - 1/dup_rate) of the extraction CPU. Worth it when duplicate-
    * heavy and extraction-bound (real crawls: 30-50% exact dups, PDFs
    * milliseconds each) — BENCH.md carries the measured A/B both ways.
    * The explicit repartition (2x parallelism) is deliberately NOT an
    * AQE-coalescible exchange: extraction is per-row CPU, not bytes.
    * Not composed into runWithCheckpoint by default: resume stays
    * per-url and is oblivious to how the rows were produced.
    *
    * Determinism: rep = min(url) per payload, so reruns pick identical
    * reps; output rows differ from plain extract() ONLY in duration_ms
    * and partition_id lineage (duplicates inherit the rep's), which is
    * pinned by the equality spec. */
  def extractDeduped(pages: DataFrame, cfg: Config = Config()): Dataset[ExtractedDoc] =
    toDocs(pages.select(col("url"), col("html"))
      .withColumn("__h", coalesce(xxhash64(col("html")), lit(0L))) // null payload → one group
      // route on the 8-byte hash alone (colliding payloads still
      // co-locate; the partitioner needn't re-scan the payload bytes)
      .repartition(exchangePartitions(pages.sparkSession), col("__h"))
      .sortWithinPartitions(col("__h"), col("html"), col("url"))
      .drop("__h"), cfg)

  /** The per-partition function of [[extract]] and [[extractDeduped]]:
    * every row through [[extractOne]], building `outputs`, except that a
    * row whose payload equals the row's just before it reuses that
    * row's doc under its own url (it holds one payload per task). A
    * plain class, so equality is identity, as for a lambda: plan and
    * cache matching see no change. Its name and flags show in the
    * plan. */
  private[spark] final class ExtractPartitions(cfg: Config, val outputs: Outputs)
      extends (Iterator[(String, Array[Byte])] => Iterator[ExtractedDoc]) with Serializable {
    def apply(rows: Iterator[(String, Array[Byte])]): Iterator[ExtractedDoc] = {
      val pid = TaskContext.getPartitionId()
      var prev: Array[Byte] = null
      var prevDoc: ExtractedDoc = null
      rows.map { case (u, html) =>
        if (prevDoc != null && java.util.Arrays.equals(html, prev)) prevDoc.copy(url = u)
        else { prev = html; prevDoc = extractOne(u, html, pid, cfg, outputs); prevDoc }
      }
    }
    def withOutputs(o: Outputs): ExtractPartitions = new ExtractPartitions(cfg, o)
    override def toString: String =
      s"ExtractPartitions(markdown=${outputs.markdown}, html=${outputs.html})"
  }

  /** Optimizer rule: an [[ExtractPartitions]] whose objects feed only the
    * serializer right above it builds only the fields that serializer
    * still has after column pruning and, under a Filter chain (where
    * Catalyst leaves the serializer whole), that the chain's top Project
    * and its conditions reference. Any other consumer of the objects
    * (`.rdd`, typed `map`/`filter`, a serializer pair collapsed by
    * `EliminateSerialization`) leaves no `SerializeFromObject` directly
    * above the function, so it keeps every output. Flags are only ever
    * cleared, so a second pass is a no-op. */
  private[spark] object PruneOutputs extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
      case p @ Project(_, child) => narrow(child, p.references).fold[LogicalPlan](p)(c => p.copy(child = c))
      case s: SerializeFromObject => narrow(s, s.outputSet).getOrElse(s)
    }

    /** `plan`, a chain of Filters on a serializer, with the function
      * under it building only the fields in `read` or in a condition. */
    private def narrow(plan: LogicalPlan, read: AttributeSet): Option[LogicalPlan] = plan match {
      case f @ Filter(cond, c) => narrow(c, read ++ cond.references).map(n => f.copy(child = n))
      case s @ SerializeFromObject(_, m: MapPartitions) => Some((m.func: AnyRef) match {
        case f: ExtractPartitions =>
          def reads(field: String) = s.output.exists(a => a.name == field && read.contains(a))
          val need = Outputs(f.outputs.markdown && reads("markdown"), f.outputs.html && reads("html"))
          if (need == f.outputs) s
          else s.copy(child = m.copy(func = f.withOutputs(need).asInstanceOf[Iterator[Any] => Iterator[Any]]))
        case _ => s
      })
      case _ => None
    }

    /** Adds the rule to the session's optimizer once (SNIPPETS [1]'s
      * `setup(session)`); rules already registered are kept. A session
      * without an optimizer of its own builds every output. */
    def register(spark: SparkSession): Unit = spark match {
      case s: org.apache.spark.sql.classic.SparkSession =>
        val exp = s.experimental
        exp.synchronized {
          if (!exp.extraOptimizations.contains(this))
            exp.extraOptimizations = exp.extraOptimizations :+ this
        }
      case _ => ()
    }
  }

  /** Pure per-row dispatch: sniff %PDF- magic vs HTML (SURVEY §2.5).
    * Text, title, counts and status are built whatever `outputs` says;
    * markdown and html are empty unless asked for. */
  def extractOne(u: String, html: Array[Byte], pid: Int, cfg: Config,
                 outputs: Outputs = Outputs.All): ExtractedDoc = {
    val nBytes = if (html == null) 0L else html.length.toLong
    val t0 = System.nanoTime()
    def ms: Double = (System.nanoTime() - t0) / 1e6
    if (html == null || html.isEmpty)
      ExtractedDoc(u, "", "", "", "", 0, 0, ms, "error", "empty payload", nBytes, pid)
    else if (nBytes > cfg.oversizeCapBytes)
      ExtractedDoc(u, "", "", "", "", 0, 0, ms, "skipped_oversize", "", nBytes, pid)
    else try {
      if (PdfExtractor.isPdf(html)) {
        val r = PdfExtractor.extract(html,
          graft.pdf.ConversionOptions(maxPages = cfg.maxPages, password = cfg.password,
            outputs = outputs))
        ExtractedDoc(u, r.text, r.markdown, r.html, r.title, r.nPages, r.nSpans, ms, "ok", "", nBytes, pid)
      } else {
        val (text, md, title) = BoilerplateStripper.extractAll(html, outputs.markdown)
        ExtractedDoc(u, text, md, "", title, 1, countBlocks(text), ms, "ok", "", nBytes, pid)
      }
    } catch {
      case e: Throwable =>
        ExtractedDoc(u, "", "", "", "", 0, 0, ms, "error",
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(200), nBytes, pid)
    }
  }

  /** Blank-line-separated block count, bit-compatible with the former
    * `text.split("\n\n").length` (which compiled a regex Pattern PER
    * DOCUMENT — a top JFR frame — and allocated every segment): count
    * non-overlapping separators left-to-right and drop trailing empty
    * segments exactly as Java's split does. */
  private[spark] def countBlocks(text: String): Int = {
    var count = 0           // segments seen (incl. empties)
    var lastNonEmpty = 0    // ordinal of last non-empty segment
    var start = 0
    var i = text.indexOf("\n\n")
    while (i >= 0) {
      count += 1
      if (i > start) lastNonEmpty = count
      start = i + 2
      i = text.indexOf("\n\n", start)
    }
    count += 1
    if (start < text.length) lastNonEmpty = count
    lastNonEmpty
  }

  // ------------------------------------------------------------------
  // Checkpointed, resumable run (north rule: per-partition lineage +
  // metrics; restart = left-anti join; RE-RUNS YIELD AN IDENTICAL
  // OUTPUT TABLE — no reader-side dedup needed).
  //
  // Commit protocol (Iceberg emulation): one Spark job, then renames.
  //   1. stage   — ONE write extracts the pending urls and writes each
  //                doc twice under a staging prefix OUTSIDE outDir
  //                (invisible to readers), partitioned by bucket: its
  //                output row under staging/<attempt>/bucket=N, its
  //                checkpoint row in the null bucket,
  //                staging/<attempt>/bucket=__HIVE_DEFAULT_PARTITION__;
  //   2. record  — move the null bucket's files flat into
  //                checkpointDir, one rename per file;
  //   3. publish — one rename staging/<attempt> → outDir/run=<attempt>.
  // Steps 2-3 launch no Spark job on the winning path.
  // Crash analysis:
  //   - before 2's first move → no checkpoint row names the attempt:
  //     its staging is an orphan (GC'd by a later run once idle past
  //     the lock TTL) and its urls are re-extracted — no duplicates,
  //     staging was never readable;
  //   - inside 2 (some files moved) or between 2 and 3 → the
  //     checkpoint names the attempt, so the next run's heal() first
  //     moves the checkpoint files still staged, then publishes: a
  //     partial record is finished, never taken for a whole one, and
  //     nothing is re-extracted;
  //   - after 3 → done: the rename leaves nothing staged.
  //
  // Validation (Iceberg's optimistic commit): the resume anti-join reads
  // the checkpoint files listed when the run starts — the BASE SNAPSHOT.
  // Steps 2-3 run under a commit lock, and under it the checkpoint is
  // listed again: only files ADDED since the base snapshot can own urls
  // this attempt extracted, so only they are semi-joined (no file added
  // → no job). This is exact, not a heuristic: the checkpoint is
  // append-only (nothing is ever rewritten or deleted) and every record
  // moves in files named by their stage write's unique job id, so
  // "listed now, not in the base" is precisely the set of rows committed
  // since the base, and the full re-read finds no conflict the added
  // files do not. A loser rewrites its remainder from its own staged
  // files before it records.
  // ------------------------------------------------------------------
  final case class RunReport(attempted: Long, ok: Long, error: Long, skipped: Long)

  private def stagingRoot(outDir: String): String = outDir + ".staging"

  /** Test-only crash injection points for the commit protocol.
    * `renameFalse` simulates `FileSystem.rename` returning false at
    * publish (transient FS refusal — distinct from a crash: the
    * process survives, the run FAILS, staging + checkpoint remain).
    * `midRecord` crashes after the first checkpoint file has moved.
    * `beforeLock` runs after staging and before the commit lock is
    * requested: a concurrent commit injected there lands between this
    * attempt's base snapshot and its validation. */
  private[spark] final case class FailPoints(
      afterStage: Boolean = false, midRecord: Boolean = false, afterCheckpoint: Boolean = false,
      renameFalse: Boolean = false, beforeLock: () => Unit = () => ())
  private[spark] final class InjectedCrash(at: String)
    extends RuntimeException(s"injected crash $at")

  /** The checkpoint read with its declared schema: no read of it
    * launches a schema-inference job. */
  private def readCheckpoint(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(StagedParquet.checkpointColumns).parquet(paths: _*)

  /** The checkpoint as it stands now, over the files listed at this call
    * (None before its first record). The listing runs on the driver; no
    * Spark job. */
  private def checkpointSnapshot(spark: SparkSession, checkpointDir: String): Option[DataFrame] =
    if (pathExists(spark, checkpointDir)) Some(readCheckpoint(spark, Seq(checkpointDir)))
    else None

  def runWithCheckpoint(spark: SparkSession, pages: DataFrame, outDir: String,
                        checkpointDir: String, runId: String,
                        cfg: Config = Config(), nBuckets: Int = 32): RunReport =
    runWithCheckpoint(spark, pages, outDir, checkpointDir, runId, cfg, nBuckets,
      FailPoints())

  private[spark] def runWithCheckpoint(spark: SparkSession, pages: DataFrame,
                                       outDir: String, checkpointDir: String,
                                       runId: String, cfg: Config, nBuckets: Int,
                                       fail: FailPoints): RunReport = {
    heal(spark, outDir, checkpointDir, cfg)
    // base snapshot: the file index is fixed when the DataFrame is made,
    // so the anti-join below reads exactly `baseFiles`
    val base = checkpointSnapshot(spark, checkpointDir)
    val baseFiles = base.fold(Set.empty[String])(_.inputFiles.toSet)
    // resume: only not-yet-checkpointed urls (left-anti — the one
    // planned join; broadcast-able when the remainder is small). No
    // distinct on the right: duplicate urls there cannot change it.
    val pending = base.fold(pages)(b => pages.join(b.select("url"), Seq("url"), "left_anti"))
    val attempt = runId + "-" + java.util.UUID.randomUUID().toString.take(8)
    val staged = new Path(s"${stagingRoot(outDir)}/$attempt")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stageAll(): RunReport = stage(stagedRows(extract(pending, cfg), runId, attempt, nBuckets), staged)
    // 1. stage (unreadable until published). Staging runs OUTSIDE the
    // commit lock — the expensive extraction work of concurrent attempts
    // overlaps; only the commit serializes. The status counts ride on
    // this write.
    var report = stageAll()
    if (fail.afterStage) throw new InjectedCrash("after stage")
    fail.beforeLock()
    // ---- commit critical section: an atomic-create lock file
    // serializes record + publish, and the pending set is RE-VALIDATED
    // under the lock against the checkpoint files added since the base
    // snapshot — a concurrent attempt that committed some of our urls
    // first wins them, we commit only the remainder. Without this, two
    // runs racing the same runId each recorded overlapping ownership
    // rows and readOutput double-counted them.
    acquireCommitLock(fs, checkpointDir, attempt, cfg.lockTtlMs, cfg.lockWaitMs)
    var crashed = false
    def crash(at: String): Nothing = { crashed = true; throw new InjectedCrash(at) }
    // heartbeat daemon: the TTL is measured from the lock's mtime,
    // so a LIVE committer refreshes it every ttl/4 — without this, a
    // single commit step slower than lockTtlMs (a slow object store)
    // would get its lock broken mid-commit by a waiter and url
    // ownership would double. The thread dies with the process on a
    // real crash (daemon) and is interrupted on every in-process exit
    // path, so a simulated crash leaves a lock that goes stale exactly
    // like a real one.
    val heartbeat = new Thread(() =>
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(1000L, cfg.lockTtlMs / 4))
          heartbeatCommitLock(fs, checkpointDir, attempt)
        }
      } catch { case _: InterruptedException => () })
    heartbeat.setDaemon(true)
    heartbeat.start()
    try {
      // a concurrent healer may have GC'd our not-yet-recorded staging
      // while we waited for the lock (its GC is TTL-gated, but a
      // stage→lock gap longer than the TTL is possible under
      // contention); stage again under the lock if so
      if (!fs.exists(staged)) report = stageAll()
      val added = checkpointSnapshot(spark, checkpointDir)
        .fold(Seq.empty[String])(_.inputFiles.filterNot(baseFiles).toSeq)
      if (added.nonEmpty && report.attempted > 0) {
        val won = readCheckpoint(spark, added).select("url")
        val mine = spark.read.schema(stagedSchema).parquet(staged.toString)
        if (!mine.where(col("bucket").isNull).join(won, Seq("url"), "left_semi").isEmpty) {
          // losing side of the race: drop the stolen urls and rewrite
          // the remainder from our own staged files (only the loser pays
          // a rewrite; nothing can add to the checkpoint while we hold
          // the lock)
          val rewrite = new Path(s"$staged.rewrite")
          report = stage(mine.join(won, Seq("url"), "left_anti"), rewrite)
          fs.delete(staged, true)
          if (!fs.rename(rewrite, staged))
            throw new java.io.IOException(s"restage rename failed: $rewrite -> $staged")
        }
      }
      if (report.attempted == 0) {
        // nothing pending, or everything was stolen: nothing to
        // commit, GC our staging
        fs.delete(staged, true)
      } else {
        // 2. record lineage + the attempt that owns each url — but
        // first confirm the lock still carries OUR attempt id: if a
        // waiter TTL-broke it (heartbeat starved or setTimes-degraded
        // FS), recording now would double url ownership
        verifyCommitLock(fs, checkpointDir, attempt)
        record(fs, staged, checkpointDir, () => if (fail.midRecord) crash("mid record"))
        if (fail.afterCheckpoint) crash("after checkpoint")
        // 3. publish (single rename)
        publish(fs, staged, outDir, attempt, failRename = fail.renameFalse)
      }
      report
    } finally {
      heartbeat.interrupt()
      // a simulated CRASH means process death: the lock file stays
      // behind (exactly what the TTL-breaking path is for); every
      // other exit — success or a surviving failure — releases it
      if (!crashed) releaseCommitLock(fs, checkpointDir)
    }
  }

  /** The stage write's columns: the output's, the checkpoint's own, then
    * the `bucket` partition column. */
  private lazy val stagedSchema = {
    import StagedParquet.{checkpointColumns, outputColumns}
    StructType(outputColumns ++ checkpointColumns.filterNot(f => outputColumns.fieldNames.contains(f.name)))
      .add("bucket", IntegerType)
  }

  /** Each doc as two staged rows, out of one explode of its bucket: its
    * output row (bucketed by url) and its checkpoint row (the null
    * bucket, no text). The attempt's constants are bound as values that
    * stay out of generated source: the strings are literals, which
    * codegen passes by reference, and `finished_at`, which a literal
    * would inline, comes from a function. A repeated run then compiles
    * nothing. */
  private def stagedRows(docs: Dataset[ExtractedDoc], runId: String, attempt: String,
                         nBuckets: Int): DataFrame = {
    val finishedAt = new Timestamp(System.currentTimeMillis())
    docs.withColumn("bucket", explode(array(pmod(xxhash64(col("url")), lit(nBuckets)), lit(null))))
      .select(stagedSchema.fieldNames.toSeq.map {
        case c @ ("text" | "markdown" | "html") => when(col("bucket").isNotNull, col(c)).as(c)
        case "run_id" => lit(runId).as("run_id")
        case "attempt" => lit(attempt).as("attempt")
        case "finished_at" => udf(() => finishedAt).apply().as("finished_at")
        case c => col(c)
      }: _*)
  }

  /** Write staged rows to `staged` and count the checkpoint rows'
    * statuses in the same pass (an observed metric of the write, no
    * extra job). The write leaves no `_SUCCESS` marker, so the staged
    * attempt publishes as its bucket directories alone. */
  private def stage(rows: DataFrame, staged: Path): RunReport = {
    val obs = Observation()
    val ckpt = col("bucket").isNull
    def n(status: String) = count(when(ckpt && col("status") === status, 1))
    rows.observe(obs, count(when(ckpt, 1)).as("attempted"), n("ok").as("ok"),
        n("error").as("error"), n("skipped_oversize").as("skipped"))
      .write.mode("overwrite").format(classOf[StagedParquet].getName)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy("bucket").save(staged.toString)
    val m = obs.get
    def get(k: String) = m(k).asInstanceOf[Long]
    RunReport(get("attempted"), get("ok"), get("error"), get("skipped"))
  }

  /** Record: move the staged checkpoint files (the null bucket's) flat
    * into checkpointDir, one rename each (their names carry the stage
    * write's unique job id), then drop the emptied directory. Files
    * already moved are no longer staged, so a second call finishes a
    * partial record. `moved` runs after each rename. */
  private def record(fs: FileSystem, staged: Path, checkpointDir: String,
                     moved: () => Unit = () => ()): Unit = {
    val dir = new Path(staged, StagedParquet.CheckpointDir)
    if (fs.exists(dir)) {
      val ckpt = new Path(checkpointDir)
      fs.mkdirs(ckpt)
      // a plain listing: `listFiles` would read each file's permissions,
      // which the local filesystem without native code does by forking `ls`
      val files = fs.listStatus(dir).toSeq.map(_.getPath).filterNot(p => hidden(p.getName))
      for (f <- files) {
        if (!fs.rename(f, new Path(ckpt, f.getName)))
          throw new java.io.IOException(s"record rename failed: $f -> $ckpt")
        moved()
      }
      fs.delete(dir, true)
    }
  }

  private def commitLockPath(checkpointDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(checkpointDir + ".commitlock")

  /** Atomic-create lock with TTL-based stale-lock breaking: a crashed
    * committer's lock (mtime older than ttlMs) is deleted and the slot
    * re-contended; a LIVE committer makes progress within the TTL or
    * is itself crashed by definition. Bounded wait, then fail loudly —
    * blocking a 1000-executor job silently is worse than erroring. */
  private[spark] def acquireCommitLock(fs: org.apache.hadoop.fs.FileSystem,
                                       checkpointDir: String, attempt: String,
                                       ttlMs: Long, maxWaitMs: Long): Unit = {
    val lock = commitLockPath(checkpointDir)
    val deadline = System.currentTimeMillis() + maxWaitMs
    var acquired = false
    // RawLocalFileSystem.create(overwrite=false) is CHECK-THEN-ACT, not
    // atomic: two racers can both pass the exists-check, and the second
    // create silently truncates the first owner's payload — both then
    // fail verifyCommitLock and abort (observed once under host load in
    // the two-thread race spec: A found B's id, B found <missing> after
    // A's release). On local filesystems claim the slot with POSIX
    // O_CREAT|O_EXCL (File.createNewFile) instead; HDFS and object
    // stores keep the genuinely-atomic fs.create(…, false).
    val localFile: java.io.File =
      if (fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
          fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
        new java.io.File(fs.makeQualified(lock).toUri.getPath)
      else null
    while (!acquired) {
      try {
        fs.mkdirs(lock.getParent)
        if (localFile != null) {
          if (!localFile.createNewFile()) // atomic O_EXCL claim
            throw new java.io.IOException(s"lock $lock exists")
          // the claim is ours; payload goes in via raw java.io (no
          // ChecksumFileSystem .crc sidecar — readers of a crc-less
          // file skip verification)
          try {
            val out = new java.io.FileOutputStream(localFile)
            try out.write(attempt.getBytes("UTF-8")) finally out.close()
          } catch {
            case e: java.io.IOException =>
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => () }
              throw e
          }
        } else {
          val out = fs.create(lock, false) // atomic: fails if present
          // the create CLAIMED the slot; if the payload write/close then
          // fails, release our own claim before retrying — otherwise the
          // loop below would treat our fresh empty lock as a foreign one
          // and spin until the deadline while blocking every other run
          try { out.write(attempt.getBytes("UTF-8")); out.close() }
          catch {
            case e: java.io.IOException =>
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => () }
              throw e
          }
        }
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val stale = try {
            val st = fs.getFileStatus(lock)
            System.currentTimeMillis() - st.getModificationTime > ttlMs
          } catch { case _: java.io.FileNotFoundException => false } // freed: retry now
          if (stale) {
            // re-check right before deleting: a fresh lock may have
            // replaced the stale one since the check above (the
            // remaining check-to-delete window is microseconds; a
            // victim would also need a >ttl commit gap to be hurt,
            // which the committer-side heartbeat prevents)
            val stillStale = try {
              val st2 = fs.getFileStatus(lock)
              System.currentTimeMillis() - st2.getModificationTime > ttlMs
            } catch { case _: java.io.FileNotFoundException => false }
            if (stillStale) fs.delete(lock, false)
          }
          else if (System.currentTimeMillis() > deadline)
            throw new java.io.IOException(
              s"commit lock $lock not acquired within ${maxWaitMs} ms")
          else Thread.sleep(50)
      }
    }
  }

  private[spark] def releaseCommitLock(fs: org.apache.hadoop.fs.FileSystem,
                                       checkpointDir: String): Unit =
    fs.delete(commitLockPath(checkpointDir), false)

  /** Refresh the lock's TTL clock. Primary path: bump mtime via
    * setTimes. On filesystems that refuse setTimes, silently degrading
    * to the plain TTL would let a waiter break a LIVE committer's lock
    * (the exact double-commit this lock prevents), so the fallback
    * REWRITES the lock file in place — create(overwrite) resets mtime
    * everywhere — but only after confirming the file still carries OUR
    * attempt id, so a lock a waiter already broke and re-claimed is
    * never clobbered. */
  private[spark] def heartbeatCommitLock(fs: org.apache.hadoop.fs.FileSystem,
                                  checkpointDir: String,
                                  attempt: String = null): Unit = {
    val lock = commitLockPath(checkpointDir)
    val now = System.currentTimeMillis()
    try { fs.setTimes(lock, now, now) }
    catch {
      case _: Throwable =>
        try {
          if (attempt != null && readLockOwner(fs, checkpointDir).contains(attempt)) {
            val out = fs.create(lock, true)
            out.write(attempt.getBytes("UTF-8"))
            out.close()
          }
        } catch { case _: Throwable => () }
    }
  }

  /** Current lock-file payload (the owning attempt id), if readable. */
  private[spark] def readLockOwner(fs: org.apache.hadoop.fs.FileSystem,
                                   checkpointDir: String): Option[String] =
    try {
      val in = fs.open(commitLockPath(checkpointDir))
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](256)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Last-line-of-defense ownership check before the irreversible
    * commit steps: if the lock no longer carries our attempt id (a
    * waiter TTL-broke it — heartbeat starvation, setTimes degradation),
    * abort THIS run rather than record overlapping ownership rows. */
  private[spark] def verifyCommitLock(fs: org.apache.hadoop.fs.FileSystem,
                                      checkpointDir: String,
                                      attempt: String): Unit = {
    val owner = readLockOwner(fs, checkpointDir)
    if (!owner.contains(attempt))
      throw new java.io.IOException(
        s"commit lock lost before checkpoint record: expected owner $attempt, " +
        s"found ${owner.getOrElse("<missing>")} — aborting commit to avoid double ownership")
  }

  /** The committed output's schema: its files' columns
    * ([[StagedParquet.outputColumns]]), then the `run` and `bucket`
    * partition columns. */
  private lazy val outputSchema = StagedParquet.outputColumns
    .add("run", StringType).add("bucket", IntegerType)

  /** Committed output: parquet read of outDir (run=attempt / bucket=n
    * partition dirs) with [[outputSchema]], so no schema-inference job.
    * Staging lives outside outDir, and each url is checkpoint-owned by
    * exactly one attempt, so this is duplicate-free WITHOUT any
    * reader-side dedup. */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(outputSchema).option("basePath", outDir).parquet(outDir)

  /** Publish: one rename of the recorded staged attempt, which holds
    * only its `bucket=N` directories, to outDir/run=<attempt>. */
  private def publish(fs: FileSystem, staged: Path, outDir: String,
                      attempt: String, failRename: Boolean = false): Unit = {
    val dst = new Path(s"$outDir/run=$attempt")
    fs.mkdirs(dst.getParent)
    if (failRename || !fs.rename(staged, dst))
      throw new java.io.IOException(s"publish rename failed: $staged -> $dst")
  }

  /** A name Spark's file listing skips. */
  private[spark] def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Recovery pass, run before each attempt:
    *  - finish the records and publishes a crash or a false-returning
    *    rename interrupted. An attempt the checkpoint names has
    *    recorded at least one file and is still staged, since a
    *    publish renames the whole staged attempt. Its children must all
    *    be `bucket=` directories (or files Spark skips); anything else
    *    (a `kind=out` directory of an older staging layout) fails heal
    *    loudly, naming the directory, before anything moves, since
    *    publishing it would break partition discovery under outDir. A
    *    recorded attempt with no output bucket left staged was published
    *    by a layout that dropped its staging only after the rename (the
    *    older one did, and could crash between the two): if its
    *    outDir/run=<attempt> exists the staging is dropped, never the
    *    published run; if not, heal fails loudly. Otherwise the
    *    checkpoint files still staged are moved, so a partial record is
    *    completed, never trusted as whole. Then the attempt publishes. A
    *    COMPLETED rename removes src, so src+dst both existing means dst
    *    is partial debris from a non-atomic copy-based rename — it is
    *    replaced wholesale from staging (a `!dst.exists` guard would
    *    trust the partial dst as committed: silent loss);
    *  - tolerate a concurrent healer winning the same publish (rename
    *    fails but dst now exists → done);
    *  - GC staged attempts the checkpoint never recorded — including
    *    stray non-attempt files dropped into staging (their urls are
    *    still pending, so they will be re-extracted; the stale files
    *    were never readable).
    *
    * Runs ENTIRELY under the commit lock: a lock-free heal racing a
    * live committer could observe src before its rename and dst after
    * it (or a mid-copy dst on object stores), then delete the freshly
    * published output while the checkpoint already owns those urls —
    * silent permanent loss — or steal the rename and fail the
    * committer's publish after a successful commit. Under the lock,
    * src+dst coexisting really does mean debris (commits are
    * serialized), and staging is listed only after acquisition. Both
    * branches act on that listing alone; the checkpoint is read only
    * when it is non-empty, and then only for the listed attempt ids.
    * The GC of UNRECORDED staging is additionally TTL-gated: a live
    * concurrent attempt stages outside the lock, so a fresh unrecorded
    * dir may belong to a committer still working — only dirs idle
    * longer than the lock TTL are orphans. */
  private[spark] def heal(spark: SparkSession, outDir: String,
                          checkpointDir: String,
                          cfg: Config = Config()): Unit = {
    val root = new Path(stagingRoot(outDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val healId = "heal-" + java.util.UUID.randomUUID().toString.take(8)
    acquireCommitLock(fs, checkpointDir, healId, cfg.lockTtlMs, cfg.lockWaitMs)
    try {
      // listed under the lock, so every entry is current; an empty
      // staging root (the steady state) costs no checkpoint read
      val entries = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
      if (entries.nonEmpty) {
        val names = entries.map(_.getPath.getName)
        val recorded: Set[String] = checkpointSnapshot(spark, checkpointDir)
          .fold(Set.empty[String])(_.select("attempt").where(col("attempt").isin(names: _*))
            .distinct().collect().map(_.getString(0)).toSet)
        val now = System.currentTimeMillis()
        for (st <- entries) {
          val (staged, att) = (st.getPath, st.getPath.getName)
          if (recorded.contains(att)) {
            val children = fs.listStatus(staged).toSeq.filterNot(c => hidden(c.getPath.getName))
            val foreign = children.filterNot(c => c.isDirectory && c.getPath.getName.startsWith("bucket="))
            if (foreign.nonEmpty)
              throw new java.io.IOException(s"recorded attempt $att: $staged holds " +
                s"${foreign.map(_.getPath.getName).mkString(", ")}, not only bucket= directories; not published")
            val dst = new Path(s"$outDir/run=$att")
            val output = children.exists(_.getPath.getName != StagedParquet.CheckpointDir)
            if (!output && !fs.exists(dst))
              throw new java.io.IOException(s"recorded attempt $att: $staged holds no output " +
                s"bucket and $dst does not exist; its output is lost")
            record(fs, staged, checkpointDir)
            if (!output) fs.delete(staged, true) // published by a layout that dropped staging after the rename
            else {
              if (fs.exists(dst)) fs.delete(dst, true) // partial rename debris
              try publish(fs, staged, outDir, att)
              catch {
                case e: java.io.IOException =>
                  if (!fs.exists(dst)) throw e // a concurrent healer won: fine
              }
            }
          } else if (now - st.getModificationTime > cfg.lockTtlMs)
            fs.delete(staged, true)
        }
      }
    } finally releaseCommitLock(fs, checkpointDir)
  }


  /** Per-partition metrics rollup (SURVEY §2.5 aggregations). */
  def partitionMetrics(extracted: Dataset[ExtractedDoc]): DataFrame = {
    extracted.groupBy(col("partition_id")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_pages")).as("n_pages"),
      sum(col("n_bytes")).as("n_bytes"),
      avg(col("duration_ms")).as("avg_ms"),
      max(col("duration_ms")).as("max_ms"),
      sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"))
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
