package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table (the crawl/telemetry
  * side of a training-data pipeline).
  *
  * Scale shape: everything here is one hash shuffle on `user_id`
  * followed by sorted window passes and a partial-aggregated groupBy —
  * the plan you want at 10^12 events. Per-user state never leaves its
  * partition; there is no collect, no broadcast, no cross join. Skewed
  * "mega-users" stay bounded because window functions stream over the
  * sorted run (no per-user materialization beyond the frame).
  */
object Events {

  /** Set/restore `spark.sql.shuffle.partitions` around a staged-replay
    * streaming run (the SparkEntry extract_stream_* idiom, centralized).
    * Stateful-stream shuffle partitions = state stores created,
    * checkpointed and committed PER MICRO-BATCH, so a bounded replay
    * pin pays (session default, e.g. 32) stores x batches x stateful
    * operators of pure fixed cost; a handful is right-sized for these
    * pins' state volume at any cluster width, and every pinned op folds
    * order-insensitively per key, so results are partition-invariant.
    * Production state volumes override via SPARK_GRAFT_STREAM_SHUFFLE —
    * the value binds at streaming-checkpoint creation, which is why it
    * wraps query start instead of living in the session conf. */
  private[graft] def withStreamShuffle[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "4"))
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Runs a staged streaming query in a fresh temporary directory and
    * owns its cleanup: `run(base)` stages its input under `base`, runs
    * the query to termination and returns what reads the results, such
    * as a lazy read of `base/out`. Once `run` returns, everything under
    * `base` but `out` (the staged input, the replay batches, the
    * streaming checkpoint) is deleted, and `base` itself is deleted at
    * JVM exit. */
  private[graft] def inStreamDir[T](prefix: String)(run: String => T): T = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toFile
    streamDirs.add(base)
    try run(base.toString)
    finally Option(base.listFiles()).toSeq.flatten.filter(_.getName != "out")
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Every [[inStreamDir]] of this JVM, deleted by one shutdown hook. */
  private lazy val streamDirs: java.util.Set[java.io.File] = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))
    dirs
  }

  /** Stage a staged-replay corpus in ONE Spark job (round 6): the
    * per-batch filter+coalesce+write loop cost nBatches sequential
    * jobs of fixed latency; a single partitionBy("b") write of the
    * pre-tagged frame produces the same one-file-per-batch layout
    * (coalesce(1) ⇒ one task ⇒ exactly one part file per partition
    * dir), and the files are then renamed into the replay dir with
    * the same strictly increasing mtimes that drive
    * `maxFilesPerTrigger=1, latestFirst=false` batch order. Row order
    * WITHIN a batch file may differ from the old per-batch writes —
    * irrelevant by construction: every pinned operator folds
    * order-insensitively per key within a micro-batch.
    * `tagged` must carry an integer column "b" in [0, nBatches); the
    * partition column is stripped from the written files, so the
    * replay schema is exactly `tagged` minus "b". */
  private def stageReplayBatches(tagged: DataFrame, base: String,
                                 nBatches: Int): Unit = {
    val inDir = new java.io.File(s"$base/in"); inDir.mkdirs()
    tagged.coalesce(1).write.partitionBy("b").parquet(s"$base/stage")
    (0 until nBatches).foreach { b =>
      val dir = new java.io.File(s"$base/stage/b=$b")
      if (!dir.isDirectory) {
        // EMPTY batch: partitionBy skips it, but a zero-row file is
        // still a trigger (and the pinned per-batch watermark fold
        // counts it) — write it explicitly. Never hit by the driver
        // corpora (dense event ids); a one-off tiny job when it is.
        tagged.filter(col("b") === b).drop("b")
          .coalesce(1).write.parquet(dir.toString)
      }
      val part = dir.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(inDir, f"b$b%d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      // strictly increasing mtimes drive the batch replay order
      assert(dst.setLastModified((b + 1) * 600000L))
    }
  }

  /** Gap-based sessionization: a new session starts when a user's
    * inter-event gap exceeds `gapUs` microseconds. Classic two-pass
    * window formulation (lag → boundary flag → running sum = session
    * index) over a single user_id shuffle.
    *
    * Determinism/oracle notes: ordering is (ts, event_id) — event_id
    * breaks timestamp ties; every output column is an integer; only
    * timestamp DIFFERENCES are used (boundary test, duration), so the
    * result is invariant to the engines' epoch/timezone interpretation
    * of the parquet timestamps. Output: one row per session with the
    * minimum event_id as its stable id.
    */
  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // parquet readers may surface ts as TIMESTAMP or TIMESTAMP_NTZ
    // depending on the writer's isAdjustedToUTC flag; unix_micros only
    // accepts the former. The cast interprets NTZ wall time in the
    // session zone — safe here because only DIFFERENCES are used and
    // the session zone is UTC (DST-free) in every driver entry point.
    val us = unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val prev = lag(us, 1).over(byUser)
    events
      .withColumn("us", us)
      .withColumn("new_s",
        when(prev.isNull || (col("us") - prev) > gapUs, 1L).otherwise(0L))
      .withColumn("s_idx", sum(col("new_s")).over(running))
      .groupBy(col("user_id"), col("s_idx"))
      .agg(
        min(col("event_id")).as("session_start"),
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("duration_us"))
  }

  /** DuckDB oracle for [[sessionize]] — same (ts, event_id) ordering,
    * same lag/flag/running-sum/group pipeline, integer-only output. */
  def sessionizeOracleSql(gapUs: Long): String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, us,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_idx
       |  FROM flagged)
       |SELECT user_id, min(event_id) AS session_start,
       |  count(*) AS n_events, max(us) - min(us) AS duration_us
       |FROM sess GROUP BY user_id, s_idx""".stripMargin

  /** Ordered funnel analysis: for each user, how far through the step
    * sequence they got — a step counts only if it happens STRICTLY
    * after the event that completed the previous step (equal
    * timestamps do not advance; event_id order never decides funnel
    * semantics). Output is one row per step with the number of users
    * who reached it: counts only, so the result is invariant to the
    * engines' epoch/timezone reading of the timestamps (comparisons
    * are order-based and monotone-transform-proof).
    *
    * Greedy first-occurrence scan ≡ the iterative "min ts after the
    * previous stage" definition (standard exchange argument), which is
    * what the DuckDB oracle computes — two formulations, same
    * function, so a bug in either side shows as a mismatch.
    *
    * Scale shape: ONE hash shuffle on user_id + an in-partition sort,
    * then a streaming group-adjacent fold (the extractDeduped
    * pattern) — per-user state is two scalars, so a mega-user costs
    * nothing beyond its sorted run; no window materialization, no
    * self-joins (the declarative alternative re-joins events once per
    * step). The per-step report is an n-row aggregate. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val n = steps.size
    val us = unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val typed = events
      .select(col("user_id").cast("long"), us.as("us"),
        col("event_id").cast("long"), col("event_type"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("us"), col("event_id"))
      .as[(Long, Long, Long, String)]
    val stepsArr = steps.toArray
    val reached = typed.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[(Long, Int)] {
        def hasNext: Boolean = buf.hasNext
        def next(): (Long, Int) = {
          val user = buf.head._1
          var stage = 0
          var lastUs = Long.MinValue
          while (buf.hasNext && buf.head._1 == user) {
            val (_, u, _, tpe) = buf.next()
            if (stage < n && tpe == stepsArr(stage) && u > lastUs) {
              stage += 1
              lastUs = u
            }
          }
          (user, stage)
        }
      }
    }.toDF("user_id", "stage")
    val counts = reached.groupBy(col("stage")).agg(count(lit(1)).as("c"))
    val stepTable = steps.zipWithIndex
      .map { case (s, i) => (s, (i + 1).toLong) }
      .toDF("step", "step_idx")
    // n_users(step i) = users whose stage >= i; tiny inequality join
    // over an n x n frame (n = #steps), nothing corpus-sized
    stepTable.join(counts, col("stage") >= col("step_idx"), "left")
      .groupBy(col("step"), col("step_idx"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_users"))
  }

  /** DuckDB oracle for [[funnel]]: the iterative min-after-previous
    * formulation (deliberately DIFFERENT from the engine's greedy
    * scan — equivalent by the exchange argument, so either
    * implementation drifting breaks the match). */
  def funnelOracleSql(steps: Seq[String], where: String = "TRUE"): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val stages = steps.zipWithIndex.map { case (s, i) =>
      val k = i + 1
      if (i == 0)
        s"s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = ${q(s)} GROUP BY user_id)"
      else
        s"s$k AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s$i USING (user_id) " +
          s"WHERE e.event_type = ${q(s)} AND e.us > s$i.t GROUP BY e.user_id)"
    }.mkString(",\n")
    val rows = steps.zipWithIndex.map { case (s, i) =>
      s"SELECT ${q(s)} AS step, CAST(${i + 1} AS BIGINT) AS step_idx, " +
        s"(SELECT count(*) FROM s${i + 1}) AS n_users"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (
       | SELECT user_id, event_type, event_id, epoch_us(ts) AS us
       | FROM events WHERE $where),
       |$stages
       |$rows""".stripMargin
  }

  /** Cohort retention matrix — the third classic event-analytics view
    * next to [[sessionize]] and [[funnel]]: users bucketed by their
    * FIRST active week (cohort), counted in every later week they
    * return. Output: (cohort_week, week_offset, n_users).
    *
    * Weeks are anchored at the GLOBAL minimum event time, so — like
    * sessionize — only timestamp differences matter and the result is
    * invariant to the engines' epoch/timezone reading of the parquet
    * timestamps. All integers.
    *
    * Scale shape: the anchor is a 1-row broadcast; (user, week)
    * de-dup and the cohort min are partial-aggregated user-keyed
    * shuffles; the final matrix groups the already-distinct
    * (user, week) rows, so count(*) IS the distinct-user count —
    * no expensive countDistinct at the matrix stage. */
  def retention(events: DataFrame,
                weekUs: Long = 7L * 86400L * 1000000L): DataFrame = {
    val us = unix_micros(col("ts")
      .cast(org.apache.spark.sql.types.TimestampType))
    val ev = events.select(col("user_id"), us.as("us"))
    val anchor = ev.agg(min(col("us")).as("t0"))
    val weeks = ev.crossJoin(broadcast(anchor))
      .select(col("user_id"), expr(s"(us - t0) div ${weekUs}L").as("wk"))
      .distinct()
    val cohort = weeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort"))
    weeks.join(cohort, Seq("user_id"))
      .groupBy(col("cohort").as("cohort_week"),
        (col("wk") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** DuckDB replica of [[retention]]. */
  def retentionOracleSql(weekUs: Long = 7L * 86400L * 1000000L,
                         eventsSrc: String = "events"): String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM $eventsSrc),
       |t0 AS (SELECT min(us) AS t0 FROM ev),
       |wk AS (SELECT DISTINCT user_id,
       |  (us - (SELECT t0 FROM t0)) // $weekUs AS wk FROM ev),
       |ch AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY user_id)
       |SELECT ch.cohort AS cohort_week,
       |  wk.wk - ch.cohort AS week_offset,
       |  CAST(count(*) AS BIGINT) AS n_users
       |FROM wk JOIN ch ON wk.user_id = ch.user_id
       |GROUP BY 1, 2""".stripMargin

  /** STREAMING gap sessionization: the same session semantics as
    * [[sessionize]], computed by Structured Streaming's native
    * `session_window` state store instead of a batch window — the
    * form this runs in production, where events arrive continuously
    * and sessions must close incrementally as the watermark advances.
    *
    * Mechanics: stage the events (plus one far-future FLUSH sentinel
    * row, user_id = -1) to a file source, run an Append-mode
    * session_window aggregation with a 0-delay event-time watermark
    * under Trigger.AvailableNow, and read the parquet sink back. A
    * session window only emits once the watermark passes its END
    * (last event + gap) — without the sentinel the final session of
    * every user sits in the state store forever, because the
    * watermark stops at the max observed event time, short of any
    * window end. The sentinel is the streaming-native flush idiom
    * (a punctuation event); its own session stays unemitted and is
    * additionally excluded by user_id >= 0.
    *
    * Boundary note: session_window MERGES an event at exactly
    * last + gap into the session (inclusive window end — pinned in
    * FunnelSpec), which is the batch formulation's "break only on
    * diff > gap" rule exactly, so this op shares the batch query's
    * oracle with no boundary caveat — a genuine cross-machinery
    * check: per-key sorted lag/running-sum vs the state store's
    * window merge must land on identical sessions.
    *
    * Scale shape: state is per-(user, open-session) aggregates —
    * min event_id, count, min/max event time — merged by the session
    * state store; closed sessions leave state as the watermark
    * passes. One stateful shuffle on user_id, exactly-once via the
    * streaming checkpoint; no batch-side global sort anywhere. */
  def sessionizeStream(spark: org.apache.spark.sql.SparkSession,
                       events: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.TimestampType
    inStreamDir("graft_sess") { base =>
      val src = events.select(col("event_id").cast("long"),
        col("ts").cast(TimestampType).as("ts"), col("user_id").cast("long"))
      val flushTs = src.agg((max(unix_micros(col("ts"))) +
        lit(10L) * gapUs).as("f")).collect()(0).getLong(0)
      src.unionAll(src.sparkSession.range(1).select(
          lit(-1L).as("event_id"),
          timestamp_micros(lit(flushTs)).as("ts"), lit(-1L).as("user_id")))
        .write.parquet(s"$base/in")
      withStreamShuffle(spark) {
        val stream = spark.readStream.schema(src.schema).parquet(s"$base/in")
          .withWatermark("ts", "0 seconds")
          .withColumn("us", unix_micros(col("ts")))
        val q = stream
          .groupBy(col("user_id"),
            session_window(col("ts"), s"$gapUs microseconds"))
          .agg(min(col("event_id")).as("session_start"),
            count(lit(1)).as("n_events"),
            (max(col("us")) - min(col("us"))).as("duration_us"))
          .select(col("user_id"), col("session_start"), col("n_events"),
            col("duration_us"))
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(s"$base/out").filter(col("user_id") >= 0)
    }
  }

  /** STREAM-STREAM attribution join — the remaining stateful
    * Structured Streaming surface (the others: windowed aggs, session
    * windows, flatMapGroupsWithState dedup): join each user's 'click'
    * events to their 'purchase' events arriving within `windowUs`
    * after the click, both sides unbounded streams. The time-RANGE
    * predicate plus per-side event-time watermarks is what lets the
    * state store evict: a buffered click older than the watermark
    * minus the window can never match a future purchase and is
    * dropped — without the range bound the join state grows forever.
    *
    * Inner stream-stream joins emit matches EAGERLY (in the
    * micro-batch where both sides are present), so an AvailableNow
    * run needs no flush sentinel — batch equivalence is exact by
    * construction, and the oracle is the plain batch join restated.
    * Boundary semantics (both inclusive): click.ts <= purchase.ts <=
    * click.ts + window.
    *
    * Scale shape: one stateful shuffle on user_id for both sides;
    * state = per-user buffered rows bounded by the watermark-window
    * arithmetic; output (click_id, purchase_id, lag_us) integers. */
  def attributionStream(spark: org.apache.spark.sql.SparkSession,
                        events: DataFrame, windowUs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.TimestampType
    inStreamDir("graft_attr") { base =>
      val staged = events.select(col("event_id").cast("long"),
        col("ts").cast(TimestampType).as("ts"), col("user_id").cast("long"),
        col("event_type").cast("string"))
      staged.write.parquet(s"$base/in")
      withStreamShuffle(spark) {
        // schema from the staged projection (round 6) — the footer
        // re-read job only restated what the writer already knew
        val src = spark.readStream
          .schema(staged.schema)
          .parquet(s"$base/in")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "0 seconds")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "0 seconds")
        // the bound is written as interval arithmetic on the event-time
        // columns — the shape Spark's streaming analyzer recognizes to
        // derive state-eviction thresholds from the watermarks
        val q = clicks.join(purchases,
            col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= expr(s"c_ts + INTERVAL $windowUs MICROSECOND"))
          .select(col("click_id"), col("purchase_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(s"$base/out")
    }
  }

  /** DuckDB replica of [[attributionStream]] — the batch join the
    * streaming state machine must reproduce exactly. */
  def attributionOracleSql(windowUs: Long): String =
    s"""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
       |FROM events c JOIN events p ON c.user_id = p.user_id
       |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
       |  AND p.ts >= c.ts
       |  AND epoch_us(p.ts) - epoch_us(c.ts) <= $windowUs""".stripMargin

  // ------------------------------------------------------------------
  // As-of join (latest `matchType` event preceding each `queryType`)
  // ------------------------------------------------------------------

  /** As-of join: for every `queryType` event, the latest `matchType`
    * event of the SAME user that precedes it in the total order
    * (ts, event_id) — the point-in-time lookup Spark has no built-in
    * operator for (attribution, feature snapshots, slowly-changing
    * dimensions).
    *
    * Engine shape — NOT a join: both sides ride ONE hash shuffle on
    * user_id; a single sorted window pass carries the most recent
    * match forward (`last(..., ignoreNulls)` over rows [-inf, -1]).
    * At 10^12 events this is strictly cheaper than any join
    * formulation: no match-side duplication, no range-bucket
    * explosion, no per-user state beyond the running frame. The
    * DuckDB oracle states the SPEC as the inequality-join + argmax
    * formulation instead — two different computations, one function.
    *
    * Semantics: "precedes" is STRICT in (ts, event_id) — a match at
    * the identical timestamp counts only if its event_id is lower.
    * Unmatched queries keep -1 sentinels (never dropped — a training
    * pipeline needs the negatives). Output is integers and
    * differences only, so it is invariant to the engines' epoch
    * reading of the parquet timestamps.
    */
  def asofLastBefore(events: DataFrame, matchType: String,
                     queryType: String): DataFrame = {
    val us = unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("user_id"), us.as("us"), col("event_type"))
      .withColumn("m",
        last(when(col("event_type") === matchType,
          struct(col("us").as("mus"), col("event_id").as("mid"))),
          ignoreNulls = true).over(w))
      .where(col("event_type") === queryType)
      .select(col("event_id"), col("user_id"),
        coalesce(col("m.mid"), lit(-1L)).as("match_event_id"),
        coalesce(col("us") - col("m.mus"), lit(-1L)).as("lag_us"))
  }

  /** DuckDB oracle for [[asofLastBefore]] — the inequality-join +
    * row_number argmax formulation (deliberately different from the
    * engine's union-window scan; cross-formulation check). */
  def asofOracleSql(matchType: String, queryType: String): String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type
       |  FROM events),
       |q AS (SELECT * FROM ev WHERE event_type = '$queryType'),
       |m AS (SELECT * FROM ev WHERE event_type = '$matchType'),
       |j AS (
       |  SELECT q.event_id, m.event_id AS mid, m.us AS mus,
       |    row_number() OVER (PARTITION BY q.event_id
       |      ORDER BY m.us DESC, m.event_id DESC) AS rn
       |  FROM q JOIN m ON m.user_id = q.user_id
       |    AND (m.us < q.us OR (m.us = q.us AND m.event_id < q.event_id)))
       |SELECT q.event_id, q.user_id,
       |  COALESCE(j.mid, -1) AS match_event_id,
       |  COALESCE(q.us - j.mus, -1) AS lag_us
       |FROM q LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)""".stripMargin

  // ------------------------------------------------------------------
  // Interval-overlap census (session concurrency) — sweep-line by
  // rank arithmetic, NO pairwise join
  // ------------------------------------------------------------------

  /** Per-user sessions as closed time intervals [s_us, e_us] (same
    * boundary rule as [[sessionize]]); session_start = min event_id
    * is the stable global id. */
  private[ops] def sessionIntervals(events: DataFrame, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val prev = lag(us, 1).over(byUser)
    events
      .withColumn("us", us)
      .withColumn("new_s",
        when(prev.isNull || (col("us") - prev) > gapUs, 1L).otherwise(0L))
      .withColumn("s_idx", sum(col("new_s")).over(running))
      .groupBy(col("user_id"), col("s_idx"))
      .agg(min(col("event_id")).as("session_start"),
        min(col("us")).as("s_us"), max(col("us")).as("e_us"))
      .select(col("user_id"), col("session_start"), col("s_us"), col("e_us"))
  }

  /** For each query key, how many item keys precede it:
    * count(items k : k <= query) when `inclusive`, count(k < query)
    * otherwise — computed WITHOUT a join: over the union of items and
    * queries ordered by (key, tag), a query's count is its
    * [[GlobalRank.positions]] with weight 1 on item rows and 0 on
    * query rows. The tag orders items before equal-key queries for
    * <=, after for < — the whole inclusivity rule is one sort byte.
    *
    * This is the distributed sweep-line primitive: two narrow passes
    * over a single range exchange, driver traffic is P longs. At
    * 10^12 intervals the quadratic pairwise-overlap join is
    * impossible; this stays n log n. */
  private def countBelow(items: DataFrame, queries: DataFrame,
                         inclusive: Boolean, nPartitions: Int): DataFrame = {
    val itemTag = if (inclusive) 0 else 1
    val rows = items.select(col("key").cast("long"),
        lit(itemTag).as("tag"), lit(-1L).as("qid"))
      .unionAll(queries.select(col("key").cast("long"),
        lit(1 - itemTag).as("tag"), col("qid").cast("long")))
    val isItem = col("tag") === itemTag
    GlobalRank.positions(rows, Seq(col("key"), col("tag"), col("qid")),
        nPartitions, weight = isItem.cast("long"))
      .where(!isItem).select(col("qid"), col("pos").as("cnt"))
  }

  /** Session-concurrency census: for every session (gap-based, as in
    * [[sessionize]]), the number of OTHER sessions — any user — whose
    * closed interval [s_us, e_us] overlaps it. The standard
    * concurrency/load question (how many crawls were in flight while
    * this one ran), and the textbook case where the naive engine is a
    * quadratic interval join.
    *
    * Rank arithmetic instead: overlap(a) = |{b : s_b <= e_a}| −
    * |{b : e_b < s_a}| − 1 (closed intervals: every b not disjoint
    * from a either starts no later than a ends, minus those that
    * ended strictly before a started, minus a itself). Two
    * [[countBelow]] sweeps — no pair is ever materialized. The DuckDB
    * oracle IS the quadratic overlap join (count(*)−1 per session),
    * feasible at oracle scale — two formulations, one function.
    *
    * Output is (user_id, session_start, n_overlap): ids and a count —
    * comparisons only, so epoch/timezone reading cancels out. */
  def sessionOverlap(events: DataFrame, gapUs: Long,
                     nPartitions: Int = 32): DataFrame = {
    val sess = sessionIntervals(events, gapUs).localCheckpoint(false)
    val startsLe = countBelow(
      items = sess.select(col("s_us").as("key")),
      queries = sess.select(col("e_us").as("key"),
        col("session_start").as("qid")),
      inclusive = true, nPartitions = nPartitions)
    val endsLt = countBelow(
      items = sess.select(col("e_us").as("key")),
      queries = sess.select(col("s_us").as("key"),
        col("session_start").as("qid")),
      inclusive = false, nPartitions = nPartitions)
    sess.join(startsLe.select(col("qid").as("session_start"),
        col("cnt").as("n_le")), Seq("session_start"))
      .join(endsLt.select(col("qid").as("session_start"),
        col("cnt").as("n_lt")), Seq("session_start"))
      .select(col("user_id"), col("session_start"),
        (col("n_le") - col("n_lt") - lit(1L)).as("n_overlap"))
  }

  /** DuckDB oracle for [[sessionOverlap]] — the direct quadratic
    * overlap join over the same session CTE (DuckDB's IEJoin makes it
    * feasible at oracle scale). `where` restricts the event stream the
    * sessions are built from (both sides must agree). */
  def sessionOverlapOracleSql(gapUs: Long, where: String = "TRUE"): String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events WHERE $where
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, us,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_idx
       |  FROM flagged),
       |s AS (
       |  SELECT user_id, min(event_id) AS session_start,
       |    min(us) AS s_us, max(us) AS e_us
       |  FROM sess GROUP BY user_id, s_idx)
       |SELECT a.user_id, a.session_start,
       |  CAST(count(*) - 1 AS BIGINT) AS n_overlap
       |FROM s a JOIN s b ON b.s_us <= a.e_us AND b.e_us >= a.s_us
       |GROUP BY a.user_id, a.session_start""".stripMargin

  /** WATERMARK LATE-DATA census: the windowed streaming aggregation
    * under genuinely MULTI-BATCH arrival, pinning exactly which rows a
    * production watermark drops. The events split into three
    * micro-batches (event_id mod 3) staged as one file each with
    * strictly increasing modification times, so
    * `maxFilesPerTrigger=1, latestFirst=false` replays them in a
    * deterministic order; because every batch spans the whole
    * 30-day range, the watermark after batch 0 (its max event time
    * minus `delay`) sits near the global max and most of batches 1-2
    * arrives LATE — the drop rule binds hard, this is not a
    * vacuous pin.
    *
    * Semantics pinned (empirically — this is the part everyone gets
    * wrong, and the oracle restates it from first principles):
    *  - Spark keeps TWO watermarks per stateful operator
    *    (SPARK-24634): late-row FILTERING uses the watermark of the
    *    PREVIOUS micro-batch (`eventTimeWatermarkForLateEvents`),
    *    while state EVICTION/emission uses the current one. So a row
    *    in batch i is filtered against max(event time over batches
    *    ≤ i−2) − delay — batches 0 AND 1 are never filtered, and the
    *    naive "previous batch's max" model (what this op's first cut
    *    assumed) over-drops by one full batch;
    *  - a row survives iff its WINDOW END is strictly above that
    *    lagged watermark (end == watermark drops — boundary pinned in
    *    the spec with an exact-collision row, like the session_window
    *    merge-at-gap boundary);
    *  - in Append mode a window only emits once the eviction
    *    watermark passes its end, so the LAST batch carries a
    *    far-future sentinel (10·delay past the organic max — its own
    *    window can never emit, end > ts ≥ wm+delay, and survivors'
    *    windows all can by 10·delay ≥ window+delay).
    *
    * Scale shape: one stateful shuffle on the window key, state =
    * open windows only (eviction by watermark — this census is
    * exactly the mechanism that keeps state bounded at 10^12 rows);
    * integer (window_us, n_events, min_event_id) output. */
  def lateEventsStream(spark: org.apache.spark.sql.SparkSession,
                       events: DataFrame,
                       windowUs: Long = 3600L * 1000000L,
                       delayUs: Long = 1800L * 1000000L,
                       nBatches: Int = 4): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.TimestampType
    inStreamDir("graft_late") { base =>
      val src = events.select(col("event_id").cast("long"),
        col("ts").cast(TimestampType).as("ts"))
      val maxUs = src.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      // one-job staging (round 6): batch tag as a partition column; the
      // flush sentinel rides in the LAST batch as before
      stageReplayBatches(
        src.withColumn("b", (col("event_id") % nBatches).cast("int"))
          .unionAll(spark.range(1).select(lit(-1L).as("event_id"),
            timestamp_micros(lit(maxUs + 10L * delayUs)).as("ts"),
            lit(nBatches - 1).cast("int").as("b"))),
        base, nBatches)
      withStreamShuffle(spark) {
        val stream = spark.readStream
          .schema(src.schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .parquet(s"$base/in")
          .withWatermark("ts", s"$delayUs microseconds")
        val q = stream
          .groupBy(window(col("ts"), s"$windowUs microseconds"))
          .agg(count(lit(1)).as("n_events"),
            min(col("event_id")).as("min_event_id"))
          .select(unix_micros(col("window.start")).as("window_us"),
            col("n_events"), col("min_event_id"))
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // the sentinel's window cannot have been emitted (end > final wm),
      // but guard the contract explicitly rather than rely on it
      spark.read.parquet(s"$base/out")
        .filter(col("window_us") <= lit(maxUs))
    }
  }

  /** DuckDB replica of [[lateEventsStream]] — the watermark state
    * machine restated from first principles: per-batch maxes, the
    * strictly-monotone watermark fold, the window-end-vs-watermark
    * drop rule, and the final-emission filter. */
  def lateEventsOracleSql(windowUs: Long = 3600L * 1000000L,
                          delayUs: Long = 1800L * 1000000L,
                          nBatches: Int = 4): String =
    s"""WITH e AS (
       |  SELECT event_id, epoch_us(ts) AS us, event_id % $nBatches AS b
       |  FROM events),
       |m AS (SELECT b, max(us) AS mx FROM e GROUP BY b),
       |surv AS (
       |  SELECT e.event_id, e.us,
       |    e.us // $windowUs * $windowUs AS window_us
       |  FROM e
       |  WHERE e.b <= 1
       |     OR e.us // $windowUs * $windowUs + $windowUs >
       |        (SELECT max(mx) FROM m WHERE m.b <= e.b - 2) - $delayUs)
       |SELECT CAST(window_us AS BIGINT) AS window_us,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(min(event_id) AS BIGINT) AS min_event_id
       |FROM surv GROUP BY window_us""".stripMargin

  /** Semi-structured payload extraction — the JSON-column surface
    * (every event pipeline carries one): parse the `props` JSON with
    * a codegen path expression (get_json_object — no UDF, no
    * driver-side schema inference) and roll up per event type:
    * count, sum/min/max of the extracted k, distinct k values, and
    * rows where extraction failed (NULL path). Integer-only.
    * Scale shape: scan-local extraction + ONE partial-agg shuffle to
    * |event_types| rows. */
  def jsonProps(events: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    events.select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad"))
  }

  /** DuckDB oracle for [[jsonProps]] — the ->> JSON path operator on
    * the same expression. */
  def jsonPropsOracleSql(): String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(k) AS BIGINT) AS sum_k,
       |  CAST(min(k) AS BIGINT) AS min_k,
       |  CAST(max(k) AS BIGINT) AS max_k,
       |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
       |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
       |FROM (SELECT event_type,
       |        CAST(props ->> '$$.k' AS BIGINT) AS k FROM events)
       |GROUP BY event_type""".stripMargin

  /** Robust hourly-volume anomaly detection — the crawl-telemetry
    * monitor: bucket events into epoch hours, then flag hours whose
    * count deviates from the LOWER MEDIAN by more than k · MAD (the
    * median absolute deviation) — median/MAD instead of mean/stddev
    * because crawl volumes are heavy-tailed and one burst hour would
    * drag a mean-based threshold toward itself. All-integer: the
    * lower median (the value at 0-based rank (H−1)/2) avoids the
    * even-count average, and the flag test is |c − med| > k·mad
    * exactly (mad = 0 ⇒ ANY deviation flags — documented).
    *
    * Scale shape: ONE partial-agg shuffle collapses the corpus to the
    * hour table — BOUNDED by the time span (720 rows/month), the
    * quantile-sketch argument — so median/MAD are driver scalars over
    * the collected bounded table, never a corpus sort. */
  def hourlyAnomalies(events: DataFrame, k: Long = 3L): DataFrame = {
    val hour = expr(
      "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("hour_idx")
    val counts = events.select(hour)
      .groupBy(col("hour_idx")).agg(count(lit(1)).as("n_events"))
      .localCheckpoint(false) // bounded: hours in the corpus span
    val cs = counts.select(col("n_events")).collect()
      .map(_.getLong(0)).sorted
    // empty corpus: no hours, the select below is empty regardless of
    // the scalars — 0/0 keeps the schema instead of throwing on (-1)/2
    val med = if (cs.isEmpty) 0L else cs((cs.length - 1) / 2)
    val devs = cs.map(c => math.abs(c - med)).sorted
    val mad = if (devs.isEmpty) 0L else devs((devs.length - 1) / 2)
    counts.select(col("hour_idx"), col("n_events"),
      abs(col("n_events") - med).as("deviation"),
      (abs(col("n_events") - med) > k * mad).cast("long").as("is_anomaly"),
      lit(med).as("med"), lit(mad).as("mad"))
  }

  /** DuckDB oracle for [[hourlyAnomalies]] — the lower medians via
    * rank formulation (value at rank (H+1) div 2 under ORDER BY value
    * — tie order cannot change the value at a rank), same flag
    * algebra. */
  def hourlyAnomaliesOracleSql(k: Long = 3L): String =
    s"""WITH c AS (
       |  SELECT epoch_us(ts) // 3600000000 AS hour_idx,
       |    CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY hour_idx),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
       |r AS (SELECT n_events,
       |    row_number() OVER (ORDER BY n_events) AS rn FROM c),
       |med AS (SELECT n_events AS v FROM r
       |        WHERE rn = ((SELECT n FROM h) + 1) // 2),
       |d AS (SELECT abs(n_events - (SELECT v FROM med)) AS dev FROM c),
       |dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn FROM d),
       |mad AS (SELECT dev AS v FROM dr
       |        WHERE rn = ((SELECT n FROM h) + 1) // 2)
       |SELECT hour_idx, n_events,
       |  CAST(abs(n_events - (SELECT v FROM med)) AS BIGINT) AS deviation,
       |  CAST(CASE WHEN abs(n_events - (SELECT v FROM med)) >
       |    $k * (SELECT v FROM mad) THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly,
       |  (SELECT v FROM med) AS med, (SELECT v FROM mad) AS mad
       |FROM c""".stripMargin

  /** Per-key state for [[dedupTtlStream]]: the latest event time seen
    * (microseconds). Public — Catalyst codegen instantiates it
    * reflectively; a private modifier breaks the generated
    * constructor call. */
  final case class TtlState(lastSeenUs: Long)

  /** TTL-EVICTING streaming dedup — the production memory/correctness
    * trade every stateful dedup makes at 10^12 keys: a key's first
    * arrival emits; re-arrivals are suppressed while its state lives;
    * state carries an EVENT-TIME timeout at lastSeen + ttl, and once
    * the eviction watermark passes it the key is forgotten — the next
    * arrival emits AGAIN. Runs on `flatMapGroupsWithState` with
    * `GroupStateTimeout.EventTimeTimeout` under the same
    * deterministic mtime-ordered multi-batch replay as
    * [[lateEventsStream]].
    *
    * Semantics pinned (empirically; the oracle restates the state
    * machine first-principles, unrolled per batch):
    *  - watermarks are millisecond-floored: eviction watermark before
    *    batch i = floor(max event-time us over batches < i / 1000) −
    *    delayMs; the LATE-row filter uses the PREVIOUS batch's
    *    eviction watermark (SPARK-24634 lag, as in lateEventsStream)
    *    and keeps a row iff us > wm·1000 STRICTLY — a row at exactly
    *    the watermark microsecond drops, one microsecond above
    *    survives (both pinned in the spec);
    *  - a key's timeout fires in batch i only if the key has NO data
    *    in batch i and timeoutMs < wmEvictionMs (strict — equality
    *    does NOT fire, pinned); a timed-out callback only removes
    *    state (emits nothing);
    *  - setTimeoutTimestamp REJECTS values below the current
    *    (eviction) watermark — Spark throws
    *    FLATMAPGROUPSWITHSTATE_USER_FUNCTION_ERROR — so the stored
    *    timeout is max(lastSeenMs + ttl, wmEvictionMs + 1): state
    *    whose natural TTL already passed lives exactly until the
    *    watermark next advances (replicated by the oracle);
    *  - a key WITH data never times out in that batch even if its
    *    timeout expired — state persists, the arrival is suppressed
    *    (pinned: re-arrival in the eviction batch itself does NOT
    *    re-emit; only a later batch does);
    *  - batch rows fold order-insensitively (min for the emit ts, max
    *    into lastSeen) — the dedupFirstSeen determinism rule.
    * Output: (user_id, emit_us) per emission. */
  def dedupTtlStream(spark: org.apache.spark.sql.SparkSession,
                     events: DataFrame,
                     ttlMs: Long = 7200L * 1000,
                     delayMs: Long = 1800L * 1000,
                     nBatches: Int = 4): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
    import org.apache.spark.sql.types.TimestampType
    import spark.implicits._
    inStreamDir("graft_ttl") { base =>
      val src = events.select(col("event_id").cast("long"),
        col("ts").cast(TimestampType).as("ts"), col("user_id").cast("long"))
      // one-job staging (round 6), see stageReplayBatches
      stageReplayBatches(
        src.withColumn("b", (col("event_id") % nBatches).cast("int")),
        base, nBatches)
      withStreamShuffle(spark) {
        val stream = spark.readStream
          .schema(src.schema)
          .option("maxFilesPerTrigger", "1")
          .option("latestFirst", "false")
          .parquet(s"$base/in")
          .withWatermark("ts", s"$delayMs milliseconds")
        val q = stream
          // the watermarked ts column must SURVIVE into the stateful
          // operator (dropping it fails analysis: "Watermark must be
          // specified ... for event-time timeout"); us rides alongside
          .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
          .as[(Long, java.sql.Timestamp, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[TtlState, (Long, Long)](
            OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
            (key, rows, state) =>
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                var mn = Long.MaxValue
                var mx = Long.MinValue
                rows.foreach { r =>
                  if (r._3 < mn) mn = r._3
                  if (r._3 > mx) mx = r._3
                }
                val existed = state.exists
                val last = if (existed) math.max(state.get.lastSeenUs, mx) else mx
                state.update(TtlState(last))
                // setTimeoutTimestamp THROWS below the current watermark
                // (a row can pass the LAGGED late filter yet sit far
                // below the eviction watermark) — clamp to wm + 1 ms, so
                // such state lives exactly until the watermark next moves
                state.setTimeoutTimestamp(math.max(last / 1000 + ttlMs,
                  state.getCurrentWatermarkMs() + 1))
                if (existed) Iterator.empty else Iterator((key, mn))
              }
          }
          .toDF("user_id", "emit_us")
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(s"$base/out")
    }
  }

  /** DuckDB replica of [[dedupTtlStream]] — the per-batch state
    * machine UNROLLED (the kmeans/SCC precedent): ms-floored
    * watermark scalars, the lagged late filter, strict-inequality
    * timeout eviction for data-less keys, emit-iff-no-state, and the
    * min/max batch folds. */
  def dedupTtlOracleSql(ttlMs: Long = 7200L * 1000,
                        delayMs: Long = 1800L * 1000,
                        nBatches: Int = 4): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us, event_id % $nBatches AS b
         |  FROM events),
         |mxs AS (SELECT b, max(us) AS m FROM e GROUP BY b),
         |st_init(user_id, last_seen, tmo) AS (
         |  SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT) WHERE false)""".stripMargin)
    var prev = "st_init"
    (0 until nBatches).foreach { i =>
      // eviction watermark (ms, floored at 0 like Spark's) in effect
      // DURING batch i; the late filter uses the PREVIOUS batch's
      val wmE =
        if (i == 0) "0"
        else s"(SELECT greatest(0, max(m) // 1000 - $delayMs) FROM mxs WHERE b < $i)"
      val wmL =
        if (i <= 1) "0"
        else s"(SELECT greatest(0, max(m) // 1000 - $delayMs) FROM mxs WHERE b < ${i - 1})"
      sb.append(
        s""",
           |wmE$i(v) AS (SELECT $wmE),
           |wmL$i(v) AS (SELECT $wmL),
           |g$i AS MATERIALIZED (
           |  SELECT user_id, min(us) AS mn, max(us) AS mx
           |  FROM e WHERE b = $i
           |    AND us > (SELECT v FROM wmL$i) * 1000
           |  GROUP BY user_id),
           |em$i AS (
           |  SELECT g.user_id, g.mn AS emit_us
           |  FROM g$i g LEFT JOIN $prev s USING (user_id)
           |  WHERE s.user_id IS NULL),
           |st$i AS MATERIALIZED (
           |  SELECT g.user_id,
           |    CASE WHEN s.last_seen IS NULL OR g.mx > s.last_seen
           |         THEN g.mx ELSE s.last_seen END AS last_seen,
           |    greatest(
           |      CASE WHEN s.last_seen IS NULL OR g.mx > s.last_seen
           |           THEN g.mx ELSE s.last_seen END // 1000 + $ttlMs,
           |      (SELECT v FROM wmE$i) + 1) AS tmo
           |  FROM g$i g LEFT JOIN $prev s USING (user_id)
           |  UNION ALL
           |  SELECT s.user_id, s.last_seen, s.tmo
           |  FROM $prev s LEFT JOIN g$i g USING (user_id)
           |  WHERE g.user_id IS NULL
           |    AND NOT (s.tmo < (SELECT v FROM wmE$i)))""".stripMargin)
      prev = s"st$i"
    }
    sb.append("\n" + (0 until nBatches)
      .map(i => s"SELECT user_id, emit_us FROM em$i")
      .mkString("\nUNION ALL\n"))
    sb.toString
  }
}
