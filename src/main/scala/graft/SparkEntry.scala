package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.spark.{ExtractJob, PagesGen}

/** Driver contract (SURVEY §7 + builder prompt).
  *
  * Two query families:
  *  - extraction queries run the engine itself over a deterministic
  *    synthetic pages corpus (the input_hint table, generated on the
  *    executors) — not SQL-expressible, driver does rows>0 checks and
  *    `sbt test` carries the byte-level correctness gate;
  *  - corpus/relational operators over the driver's parquet tables,
  *    each paired with a DuckDB oracle below (column names + types are
  *    aligned on both sides: BIGINT counts, DECIMAL(18,2) money,
  *    integer-derived DOUBLE ratios — all engine-exact).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** DuckDB quality-score SQL over an arbitrary table expression —
    * shared by the standalone `text_quality_score` row, the composed
    * `corpus_training_set`, and the AUC census (single source of
    * truth, no drift). `key` is the identity column carried through
    * (doc_id for the per-doc rows, source for the AUC grouping). */
  /** Connected-component survivors oracle (recursive closure) — shared by
    * the dedup_survivors row and the cluster-stats rollup. */
  private def survivorsOracleSql: String =
      """WITH RECURSIVE toks AS (
        | SELECT doc_id, lang, source, unnest(list_distinct(list_filter(
        |   string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0))) AS tok
        | FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        | FROM toks a JOIN toks b ON a.lang = b.lang AND a.source = b.source
        |   AND a.tok = b.tok AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |pairs AS (
        | SELECT a_id, b_id FROM inter
        | JOIN sizes sa ON inter.a_id = sa.doc_id
        | JOIN sizes sb ON inter.b_id = sb.doc_id
        | WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.95),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep_id
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin

  private def qualityScoreSql(table: String = "documents",
      key: String = "doc_id"): String =
    s"""WITH base AS (
       | SELECT $key, text,
       |  list_filter(string_split_regex(lower(text), '[\\s\\x0b]+'), x -> len(x) > 0) AS toks
       | FROM $table),
       |sig AS (
       | SELECT $key,
       |  CAST(len(toks) AS DOUBLE) AS n_tokens,
       |  CAST(len(list_filter(toks, t -> list_contains(
       |    ['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','by','at','it','this','that'], t))) AS DOUBLE) AS n_stop,
       |  CAST(length(text) AS DOUBLE) AS n_chars,
       |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct
       | FROM base)
       |SELECT $key, round(
       |  greatest(0.0, least(1.0,
       |    0.4 * least(1.0, n_tokens / 100.0) +
       |    0.3 * least(1.0, n_stop * 8.0 / greatest(n_tokens, 1.0)) +
       |    0.3 * (1.0 - least(1.0, n_punct * 4.0 / greatest(n_chars, 1.0))))), 4) AS quality
       |FROM sig""".stripMargin

  /** DuckDB replica of `TextAnalysis.qualityAuc`: the shared quality
    * SQL keyed by source, then the exact 2×midrank construction
    * (2c + g + 1 per distinct score value) and the final single
    * DOUBLE division. Concatenated, not re-stripMargin'd — the inner
    * SQL is already stripped (the `||`-eating trap from ROUND_NOTES). */
  private def qualityAucSql(): String =
    "WITH q AS (\n" + qualityScoreSql(key = "source") + "\n),\n" +
      """vals AS (SELECT quality, CAST(count(*) AS BIGINT) AS g
        |         FROM q GROUP BY quality),
        |ranked AS (SELECT quality,
        |  2 * COALESCE(sum(g) OVER (ORDER BY quality
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + g + 1 AS m2
        |  FROM vals),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(m2) AS BIGINT) AS rank2_sum
        |        FROM q JOIN ranked USING (quality) GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per)
        |SELECT source, n_docs, rank2_sum,
        |  CASE WHEN n_total = n_docs THEN NULL
        |       ELSE CAST(rank2_sum - n_docs * (n_docs + 1) AS DOUBLE)
        |            / CAST(2 * n_docs * (n_total - n_docs) AS DOUBLE)
        |  END AS auc
        |FROM per CROSS JOIN tot""".stripMargin

  private val decontaminateSql: String =
    """WITH toks AS (
      | SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0) AS t
      | FROM documents),
      |grams AS (
      | SELECT doc_id,
      |  unnest(list_distinct(list_transform(generate_series(1, len(t) - 4),
      |    i -> array_to_string(t[i:i+4], ' ')))) AS g
      | FROM toks),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20)
      |SELECT grams.doc_id, count(DISTINCT grams.g) AS n_contaminated_grams
      |FROM grams JOIN bench USING (g)
      |WHERE grams.doc_id >= 20
      |GROUP BY grams.doc_id""".stripMargin

  /** Composed training-corpus oracle: the component SQL generators over
    * the non-benchmark corpus subquery, joined exactly as the Spark
    * pipeline does. */
  private def trainingSetSql: String = {
    val corpus = "(SELECT * FROM documents WHERE doc_id >= 20)"
    s"""WITH q AS (SELECT * FROM (${qualityScoreSql(corpus)})),
       |lid AS (SELECT * FROM (${graft.ops.TextAnalysis.langIdOracleSql(corpus)})),
       |reps AS (SELECT min(doc_id) AS doc_id FROM $corpus GROUP BY text),
       |contam AS (SELECT * FROM ($decontaminateSql))
       |SELECT d.doc_id, q.quality, CAST(length(d.text) AS BIGINT) AS n_chars
       |FROM $corpus d
       |JOIN reps USING(doc_id) JOIN q USING(doc_id) JOIN lid USING(doc_id)
       |WHERE q.quality >= 0.6 AND lid.lang_pred = 'en'
       |AND d.doc_id NOT IN (SELECT doc_id FROM contam)""".stripMargin
  }

  /** Flagship: the extraction pipeline end-to-end on synthetic pages. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PagesGen.generate(spark, 64, seed = 42L, parallelism = 4).toDF()
    ExtractJob.extract(pages, ExtractJob.Config(salt = false))
      .select(col("url"), col("status"), col("n_pages"), col("n_spans"),
        length(col("text")).as("text_len"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- extraction engine (rows-only checks) ----------
    "extract_pages" -> ((s, _) => {
      val pages = PagesGen.generate(s, 200, seed = 42L, parallelism = 8).toDF()
      ExtractJob.extract(pages, ExtractJob.Config(salt = false))
        .select(col("url"), col("status"), col("n_pages"), col("n_spans"),
          length(col("text")).as("text_len"), xxhash64(col("text")).as("text_hash"))
    }),
    "extract_corrupt_recovery" -> ((s, _) => {
      // corrupt-xref recovery at JOB level: every startxref anchor in
      // the (PDF subset of the) corpus is destroyed, so each document
      // must reopen through the full-scan reconstruction fallback —
      // and still produce byte-identical text vs the intact twin.
      // Emits per-url hashes of both sides plus the identity verdict,
      // frozen as a VALUES pin (OracleFreeze).
      import s.implicits._
      val pages = PagesGen.generate(s, 60, seed = 42L, parallelism = 4).toDF()
        .filter(col("url").endsWith(".pdf"))
      val corrupted = pages.select(col("url"), col("html")).as[(String, Array[Byte])]
        .map { case (u, b) => (u, PagesGen.killXref(b)) }.toDF("url", "html")
      val intact = ExtractJob.extract(pages, ExtractJob.Config(salt = false))
        .select(col("url"), xxhash64(col("text")).as("intact_hash"))
      val rec = ExtractJob.extract(corrupted, ExtractJob.Config(salt = false))
        .select(col("url"), xxhash64(col("text")).as("recovered_hash"), col("status"))
      intact.join(rec, "url")
        .select(col("url"), col("status"), col("intact_hash"), col("recovered_hash"),
          (col("intact_hash") === col("recovered_hash")).as("identical"))
    }),
    "extract_html_strip" -> ((s, _) => {
      val pages = PagesGen.generate(s, 120, seed = 42L, parallelism = 4).toDF()
        .filter(col("url").endsWith(".html"))
      ExtractJob.extract(pages, ExtractJob.Config(salt = false))
        .select(col("url"), length(col("text")).as("text_len"),
          xxhash64(col("text")).as("text_hash"))
    }),
    "extract_sql_expr" -> ((s, _) => {
      // the Catalyst Expression path: extraction addressable from SQL
      graft.spark.ExtractText.register(s)
      PagesGen.generate(s, 80, seed = 42L, parallelism = 4).toDF()
        .createOrReplaceTempView("graft_pages")
      s.sql("SELECT url, length(extract_text(html)) AS text_len FROM graft_pages")
        .filter(col("text_len") > 0)
    }),
    "extract_html_render" -> ((s, _) => {
      // the third export surface (PDF→HTML) through the job
      val pages = PagesGen.generate(s, 120, seed = 42L, parallelism = 4).toDF()
        .filter(col("url").endsWith(".pdf"))
      ExtractJob.extract(pages, ExtractJob.Config(salt = false))
        .filter(col("status") === "ok")
        .select(col("url"), length(col("html")).as("html_len"),
          xxhash64(col("html")).as("html_hash"))
        .filter(col("html_len") > 0)
    }),
    "extract_images" -> ((s, _) => {
      // image XObject pixel extraction + PNG encode on the executors
      import s.implicits._
      s.range(0, 60, 1, 4).map { id =>
        val pdf = PagesGen.imagePdf(id)
        val doc = new graft.pdf.doc.PdfDocument(pdf)
        val imgs = graft.pdf.extract.Images.extract(doc, doc.pages.head)
        val pngBytes = imgs.flatMap(graft.pdf.extract.Images.toPng).map(_.length.toLong).sum
        (id, imgs.size.toLong, imgs.map(i => i.width.toLong * i.height).sum, pngBytes)
      }.toDF("doc_id", "n_images", "n_pixels", "png_bytes")
        .filter(col("n_images") > 0)
    }),
    "extract_stream" -> ((s, _) => {
      // Structured Streaming surface: AvailableNow micro-batch over a
      // staged corpus, read back from the parquet sink (exactly-once
      // via the streaming checkpoint)
      graft.ops.Events.inStreamDir("graft_stream_q") { base =>
        PagesGen.writeBucketed(PagesGen.generate(s, 80, seed = 42L, parallelism = 4),
          s"$base/pages", nBuckets = 4)
        val q = graft.spark.ExtractStreamJob.start(s, s"$base/pages",
          s"$base/out", s"$base/ckpt")
        q.awaitTermination()
        s.read.parquet(s"$base/out")
          .filter(col("status") === "ok")
          .select(col("url"), col("n_pages"), col("n_spans"),
            xxhash64(col("text")).as("text_hash"))
      }
    }),
    "extract_stream_metrics" -> ((s, _) => {
      // watermarked per-(event-time window, host) quality metrics
      // (ExtractStreamJob.qualityMetrics) driven as a real stream in
      // COMPLETE mode over a staged corpus: every group is emitted when
      // AvailableNow drains, so the result is the full deterministic
      // aggregate. Hosts are remapped onto 5 buckets and timestamps
      // spread over 3 hours so the windowing actually groups.
      graft.ops.Events.inStreamDir("graft_stream_m") { base =>
        PagesGen.writeBucketed(PagesGen.generate(s, 80, seed = 42L, parallelism = 4),
          s"$base/pages", nBuckets = 4)
        val schema = s.read.parquet(s"$base/pages").schema
        val pages = s.readStream.schema(schema).parquet(s"$base/pages")
          .withColumn("warc_ts", timestamp_seconds(
            unix_timestamp(col("warc_ts")) + pmod(xxhash64(col("url")), lit(180L)) * 60L))
          .withColumn("url",
            concat(lit("https://h"), pmod(xxhash64(col("url")), lit(5L)),
              lit(".example/"), regexp_extract(col("url"), "doc[0-9]+\\.(pdf|html)", 0)))
        val sink = "qm_" + java.util.UUID.randomUUID().toString.replace("-", "")
        // stateful-stream shuffle partitions = state stores to checkpoint
        // per batch; a handful is plenty for the staged corpus
        // (result-invariant; centralized knob in Events.withStreamShuffle)
        graft.ops.Events.withStreamShuffle(s) {
          val q = graft.spark.ExtractStreamJob.qualityMetrics(pages)
            .writeStream.format("memory").queryName(sink).outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink)
          .select(col("host"), unix_timestamp(col("window.start")).as("win_start"),
            col("n_docs"), col("n_ok"), col("n_bytes"), col("n_pages"))
      }
    }),
    "extract_stream_dedup" -> ((s, _) => {
      // stateful first-seen URL dedup (flatMapGroupsWithState) driven as
      // a real stream: the staged corpus contains every page TWICE (an
      // exact re-crawl), and only the first occurrence passes. The
      // duplicates are byte-identical, so the surviving rows are
      // deterministic regardless of file/batch arrival order.
      graft.ops.Events.inStreamDir("graft_stream_d") { base =>
        val once = PagesGen.generate(s, 60, seed = 42L, parallelism = 4)
        PagesGen.writeBucketed(once.union(once), s"$base/pages", nBuckets = 4)
        val schema = s.read.parquet(s"$base/pages").schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(s"$base/pages")
        graft.ops.Events.withStreamShuffle(s) {
          val q = graft.spark.ExtractStreamJob.dedupFirstSeen(stream)
            .writeStream.format("parquet")
            .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.read.parquet(s"$base/out")
          .select(col("url"), unix_timestamp(col("warc_ts")).as("ts_sec"),
            xxhash64(col("html")).as("html_hash"))
      }
    }),
    "extract_stream_quality" -> ((s, _) => {
      // streaming quality gate: ONE streaming pipeline — file source →
      // extraction → qualityGate (quality score + langid + accept flag,
      // pure projections, no state) → parquet sink. Stamps `accept`
      // instead of filtering, so rejected docs stay auditable and the
      // langId pushdown trap never arms.
      graft.ops.Events.inStreamDir("graft_stream_g") { base =>
        PagesGen.writeBucketed(PagesGen.generate(s, 80, seed = 42L, parallelism = 4),
          s"$base/pages", nBuckets = 4)
        val schema = s.read.parquet(s"$base/pages").schema
        val pages = s.readStream.schema(schema).parquet(s"$base/pages")
        val gated = graft.spark.ExtractStreamJob.qualityGate(
          ExtractJob.extract(pages, ExtractJob.Config(salt = false)).toDF())
        val q = gated.writeStream.format("parquet")
          .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$base/out")
          .filter(col("status") === "ok")
          .select(col("url"), col("quality"), col("lang_pred"), col("accept"),
            xxhash64(col("text")).as("text_hash"))
      }
    }),
    "extract_fonts" -> ((s, _) => {
      // font-fidelity tier (round-4): real embedded ToUnicode CMap
      // streams (bfchar/bfrange/ligature/U+FFFD-skip), /Differences
      // over AGL names, and a Type0 2-byte font with surrogate-pair
      // mappings, driven end-to-end; the decoded TEXT is the pin, so
      // any cascade drift turns this row red. Fixture fonts are
      // byte-identical across ids — the cross-doc FontCache path.
      import s.implicits._
      s.range(0, 60, 1, 4).map { id =>
        val r = graft.pdf.PdfExtractor.extract(PagesGen.fontPdf(id),
          graft.pdf.ConversionOptions())
        (id, r.nPages.toLong, r.nSpans.toLong, r.text)
      }.toDF("doc_id", "n_pages", "n_spans", "text")
    }),
    "extract_links" -> ((s, _) => {
      // link-annotation extraction (URI actions + GoTo dests) — the
      // web-graph surface over crawled PDFs
      import s.implicits._
      s.range(0, 80, 1, 4).flatMap { id =>
        val doc = new graft.pdf.doc.PdfDocument(PagesGen.linkPdf(id))
        graft.pdf.doc.DocExtras.annotations(doc, doc.pages.head).map { a =>
          (id, a.subtype, a.actionType, a.uri, a.dest)
        }
      }.toDF("doc_id", "subtype", "action_type", "uri", "dest")
    }),
    "extract_char_mode" -> ((s, _) => {
      // legacy char-clustering path (reference markdown.rs char mode):
      // per-glyph extraction → spatial word/line clustering → markdown.
      // Parallelism cluster-derived (round 6): the fixed 4 was an
      // artificial cap on the most expensive per-doc kernel in the
      // suite — per-doc results are id-deterministic, so partitioning
      // never changes rows.
      import s.implicits._
      s.range(0, 60, 1, math.min(60, s.sparkContext.defaultParallelism)).map { id =>
        val (bytes, kind) = PagesGen.payload(id, 42L)
        val md = if (kind == "pdf")
          graft.pdf.PdfExtractor.extractCharMarkdown(bytes) else ""
        (id, kind, md.length.toLong, if (md.isEmpty) 0L else {
          var h = 0xcbf29ce484222325L
          var i = 0
          while (i < md.length) { h = (h ^ md.charAt(i)) * 1099511628211L; i += 1 }
          h
        })
      }.toDF("doc_id", "kind", "md_len", "md_hash")
    }),
    "extract_hybrid_mode" -> ((s, _) => {
      // hybrid smart dispatch (complexity-routed layout analysis);
      // cluster-derived parallelism, see extract_char_mode
      import s.implicits._
      s.range(0, 60, 1, math.min(16, s.sparkContext.defaultParallelism)).flatMap { id =>
        val (bytes, kind) = PagesGen.payload(id, 42L)
        if (kind != "pdf") None
        else {
          val r = graft.pdf.PdfExtractor.extract(bytes,
            graft.pdf.ConversionOptions(
              markdownMode = graft.pdf.ReadingOrderMode.Hybrid))
          Some((id, r.markdown.length.toLong, {
            var h = 0xcbf29ce484222325L
            var i = 0
            while (i < r.markdown.length) {
              h = (h ^ r.markdown.charAt(i)) * 1099511628211L; i += 1
            }
            h
          }))
        }
      }.toDF("doc_id", "md_len", "md_hash")
    }),
    "extract_forms" -> ((s, _) => {
      // AcroForm field extraction (round-5): nested /Kids with dotted
      // names, inherited /FT, UTF-16BE + Name + integer values, and
      // widget kids keeping the parent's name — every surface
      // DocExtras.formFields implements, frozen as a VALUES pin
      import s.implicits._
      s.range(0, 60, 1, 4).flatMap { id =>
        val doc = new graft.pdf.doc.PdfDocument(PagesGen.formPdf(id))
        graft.pdf.doc.DocExtras.formFields(doc).map { ff =>
          (id, ff.name, ff.fieldType, ff.value)
        }
      }.toDF("doc_id", "field_name", "field_type", "value")
    }),
    "extract_outline" -> ((s, _) => {
      // bookmark-tree extraction (round-5): nested items, pre-order +
      // levels, explicit /Dest arrays, GoTo actions, named (string)
      // dests, a UTF-16BE title — the DocExtras.outline surfaces
      import s.implicits._
      s.range(0, 60, 1, 4).flatMap { id =>
        val doc = new graft.pdf.doc.PdfDocument(PagesGen.outlinePdf(id))
        graft.pdf.doc.DocExtras.outline(doc).zipWithIndex.map { case (o, k) =>
          (id, k, o.title, o.level, o.dest)
        }
      }.toDF("doc_id", "ord", "title", "level", "dest")
    }),
    "extract_fixtures_job" -> ((s, _) => {
      // the round-4 fixture kinds (fonts/images/links/forms/outlines/
      // structured HTML) driven through the FULL job path — column
      // pruning, PDF sniff, per-row dispatch, status rows — instead of
      // the kernel-only s.range.map pins; text/markdown hashes frozen,
      // so job-path regressions on any fixture kind turn this red
      val pages = PagesGen.generateFixtures(s, nPerKind = 12, parallelism = 4).toDF()
      ExtractJob.extract(pages, ExtractJob.Config(salt = false))
        .select(col("url"), col("status"), col("n_pages"), col("n_spans"),
          length(col("text")).as("text_len"),
          xxhash64(col("text")).as("text_hash"),
          xxhash64(col("markdown")).as("md_hash"))
    }),
    "extract_dedup_job" -> ((s, _) => {
      // payload-dedup job path: fixture corpus seen under 3 urls each;
      // extraction runs once per distinct payload, results fan out to
      // every url — per-url text/markdown hashes frozen, so both the
      // dedup plumbing AND the extraction semantics pin here
      val base = PagesGen.generateFixtures(s, nPerKind = 8, parallelism = 4).toDF()
      val dup = base
        .unionAll(base.withColumn("url", concat(lit("mirror-a/"), col("url"))))
        .unionAll(base.withColumn("url", concat(lit("mirror-b/"), col("url"))))
      ExtractJob.extractDeduped(dup, ExtractJob.Config(salt = false))
        .select(col("url"), col("status"), col("n_pages"), col("n_spans"),
          length(col("text")).as("text_len"),
          xxhash64(col("text")).as("text_hash"),
          xxhash64(col("markdown")).as("md_hash"))
    }),
    "extract_incremental" -> ((s, _) => {
      // incremental crawl job path: previous snapshot = docs 0..59,
      // current = docs 20..79 with every 3rd carried-over doc
      // regenerated under a different seed (a real content change).
      // Worklist = added (60..79) + changed (multiples of 3 in
      // 20..59); unchanged docs never re-enter the kernel. Per-url
      // delta status + extracted text hash frozen.
      import s.implicits._
      def snap(ids: Range, seedOf: Long => Long) =
        s.range(ids.start, ids.end, 1, 4).map { id =>
          (s"https://host$id.example/doc$id", PagesGen.payload(id, seedOf(id))._1)
        }.toDF("url", "html")
      val prev = snap(0 until 60, _ => 42L)
      val cur = snap(20 until 80, id => if (id % 3 == 0) 43L else 42L)
      val out = ExtractJob.extractIncremental(prev, cur, ExtractJob.Config(salt = false))
      val delta = ExtractJob.incrementalWorklist(prev, cur)
        .withColumnRenamed("status", "delta_status")
      out.toDF().join(delta, Seq("url"))
        .select(col("url"), col("delta_status"), col("status"),
          col("n_pages"), xxhash64(col("text")).as("text_hash"))
    }),
    "extract_metrics" -> ((s, _) => {
      // per-partition lineage/metrics surface, made deterministic (and
      // therefore freezable): a FIXED url-hash repartition pins
      // partition ids regardless of session parallelism; timing
      // columns (avg_ms/max_ms) are excluded from the pinned output.
      // The salted heavy tier is exercised by extract_throughput and
      // ExtractJobSpec.
      val pages = PagesGen.generate(s, 200, seed = 42L, parallelism = 8).toDF()
        .repartition(8, col("url"))
      ExtractJob.partitionMetrics(
        ExtractJob.extract(pages, ExtractJob.Config(salt = false)))
        .select(col("partition_id"), col("n_docs"), col("n_pages"),
          col("n_bytes"), col("n_ok"))
    }),

    // ---------------- relational primitives (SURVEY §2.5) -----------
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // sum in exact DECIMAL, surface as DOUBLE (bit-identical in
          // both engines since the decimal value is exact)
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))),
    "q2_join_broadcast" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))),
    "q3_antijoin" -> ((s, dir) =>
      // resume-shaped anti-join (SURVEY §2.5): customers with no
      // finalized order — non-empty at sf0.01
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))),
    "q4_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn").cast("long").as("rn"))
    }),
    "q6_distinct_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))),
    "q10_rollup" -> ((s, dir) =>
      // multi-dimensional aggregation: ROLLUP expands grouping sets in
      // ONE shuffle (Expand node) — subtotals + grand total without
      // re-scanning; grouping_id disambiguates NULL-as-subtotal from
      // NULL-as-value (standard bit encoding, identical in DuckDB)
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().as("gid"))),
    "q14_cube" -> ((s, dir) =>
      // CUBE completes the grouping-sets family (ROLLUP in q10): all
      // four (lang, source) subtotal combinations from ONE Expand
      // shuffle; grouping_id's bit encoding is identical in DuckDB
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          grouping_id().as("gid"))),
    "q11_pivot" -> ((s, dir) =>
      // pivot with EXPLICIT values (deterministic column order; the
      // inferred-values form adds a driver distinct pass) — compiles
      // to one groupBy with CASE aggregates, a single shuffle
      t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)),
    "q12_asof" -> ((s, dir) =>
      // as-of join (latest click strictly before each purchase, per
      // user): ONE user_id shuffle + a sorted window carry — no join,
      // no match-side duplication; oracle is the inequality-join +
      // argmax formulation (cross-formulation check). Unmatched
      // purchases keep -1 sentinels.
      graft.ops.Events.asofLastBefore(t(s, dir, "events"),
        matchType = "click", queryType = "purchase")),
    "q13_overlap" -> ((s, dir) =>
      // interval-overlap census (how many sessions were concurrently
      // in flight with each session): rank arithmetic over two
      // range-partitioned sweeps — NO pairwise join; the oracle IS
      // the quadratic overlap join. 1-in-11 user sample + 1h gap make
      // the overlap distribution non-degenerate at both SFs.
      graft.ops.Events.sessionOverlap(
        t(s, dir, "events").filter(col("user_id") % 11 === 0),
        gapUs = 3600L * 1000000L)),
    "q5_except" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"))
        .except(t(s, dir, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("p_partkey")))),
    "q7_sessionize" -> ((s, dir) =>
      // gap-based sessionization (6h inactivity gap): one user_id
      // shuffle, window lag → boundary flag → running-sum session
      // index; integer-only, timezone-invariant output
      graft.ops.Events.sessionize(t(s, dir, "events"), gapUs = 21600L * 1000000L)),
    "q8_funnel" -> ((s, dir) =>
      // ordered funnel over a 1-in-7 event sample (full stream is so
      // dense every user completes — the sample makes dropoff real);
      // strict-after greedy scan vs the oracle's iterative min-after:
      // equivalent formulations, counts-only output
      graft.ops.Events.funnel(
        t(s, dir, "events").filter(col("event_id") % 7 === 0),
        steps = Seq("signup", "view", "click", "purchase"))),

    "q9_retention" -> ((s, dir) =>
      // weekly cohort retention over a 1-in-11 event sample (the full
      // stream is dense enough that every user is active every week —
      // the sample makes decay real); weeks anchored at the global min
      // event time so only timestamp differences matter
      graft.ops.Events.retention(
        t(s, dir, "events").filter(col("event_id") % 11 === 0))),
    "stream_attribution" -> ((s, dir) =>
      // stream-stream inner join with event-time range bound (1h
      // click->purchase attribution); inner joins emit eagerly, so
      // AvailableNow equals the batch join — which IS the oracle
      graft.ops.Events.attributionStream(s, t(s, dir, "events"),
        windowUs = 3600L * 1000000L)),
    "events_json_props" -> ((s, dir) =>
      // the JSON-column surface: codegen get_json_object extraction
      // + one partial-agg rollup per event type, integer-only
      graft.ops.Events.jsonProps(t(s, dir, "events"))),
    "events_anomaly_mad" -> ((s, dir) =>
      // robust crawl-volume monitor: hourly counts vs lower-median
      // +/- k*MAD (heavy-tail-proof), all-integer; the hour table is
      // bounded by the time span so median/MAD are driver scalars
      graft.ops.Events.hourlyAnomalies(t(s, dir, "events"))),
    "stream_dedup_ttl" -> ((s, dir) =>
      // TTL-evicting stateful dedup (flatMapGroupsWithState +
      // EventTimeTimeout, deterministic 4-batch replay): first
      // arrival emits, in-TTL re-arrivals suppressed, eviction on
      // watermark passage re-opens the key; oracle unrolls the state
      // machine per batch incl. the ms-floored watermarks, the
      // SPARK-24634 lagged late filter, strict timeout inequality
      // and the setTimeoutTimestamp clamp
      graft.ops.Events.dedupTtlStream(s, t(s, dir, "events"))),
    "stream_late_events" -> ((s, dir) =>
      // watermark late-data census: three deterministic micro-batches
      // (mtime-ordered files, maxFilesPerTrigger=1); every batch spans
      // the full range so the post-batch-0 watermark drops most of
      // batches 1-2 — the oracle restates the watermark state machine
      // from first principles (per-batch maxes, monotone fold,
      // window-end > watermark survival)
      graft.ops.Events.lateEventsStream(s, t(s, dir, "events"))),
    "stream_sessionize" -> ((s, dir) =>
      // the q7 semantics computed by Structured Streaming's native
      // session_window state store (Append mode, 0-delay watermark,
      // far-future flush sentinel, AvailableNow) — pinned against the
      // SAME batch oracle: state-store window merge vs sorted
      // lag/running-sum must land on identical sessions
      graft.ops.Events.sessionizeStream(s, t(s, dir, "events"),
        gapUs = 21600L * 1000000L)),
    "corpus_shard_assign" -> ((s, dir) =>
      // global shuffle-order enumeration WITHOUT a partitionless
      // window: range-partition + per-partition counts (P-row driver
      // collect) + broadcast prefix offsets — the zipWithIndex
      // pattern; oracle states the spec as one row_number
      graft.ops.Sampling.shardAssign(t(s, dir, "documents"),
        shardSize = 64L)),
    "corpus_epoch_allocation" -> ((s, dir) =>
      // data-constrained repeat schedule: dyadic per-epoch utility,
      // first-fit-prefix greedy under an exact integer budget (12/5 of
      // one pass); bounded |sources|*E grid is the only window input
      graft.ops.Sampling.epochAllocation(t(s, dir, "documents"))),
    "corpus_shuffle_adjacency" -> ((s, dir) =>
      // shuffle-quality census: adjacent-position same-source rate
      // per epoch vs the natural-order baseline (epoch -1); adjacency
      // by (epoch, pos+1) self-join — never an epoch-partitioned
      // window over the corpus
      graft.ops.Sampling.shuffleAdjacency(t(s, dir, "documents"))),
    "corpus_epoch_order" -> ((s, dir) =>
      // per-epoch reshuffle: 32-bit Feistel BIJECTION re-keyed by
      // epoch (collision-free, no rand()), dense per-epoch positions
      // via the two-pass enumeration — no partitionless window
      graft.ops.Sampling.epochOrder(t(s, dir, "documents"))),
    "corpus_reshard_churn" -> ((s, dir) =>
      // consistent-hash ring vs mod-N resharding churn: rings are
      // generated in-kernel from the closed-form vnode hash (no
      // broadcast/join); per-doc owner = one binary search; the
      // oracle's docs x vnodes cross join lives in the audit arm only
      graft.ops.Sampling.reshardChurn(t(s, dir, "documents"))),
    "corpus_bpe_merges" -> ((s, dir) =>
      // BPE tokenizer training: 8 merge rules learned on-cluster;
      // one corpus shuffle, then vocabulary-sized rounds (sentinel-
      // wrapped symbol strings, literal-replace fusion) — oracle
      // unrolls the 8 rounds as chained CTEs
      graft.ops.Bpe.merges(t(s, dir, "documents"), n = 8)),
    "corpus_fertility" -> ((s, dir) =>
      // Tokenizer fertility census: BPE units per word + chars per
      // unit, per language bucket — the multilingual over-segmentation
      // detector. Same broadcast-join shape as corpus_bpe_encode; the
      // two ratios are single IEEE divisions of exact longs
      graft.ops.Bpe.fertility(t(s, dir, "documents"), n = 8)),
    "corpus_bpe_encode" -> ((s, dir) =>
      // the apply side: per-doc BPE unit counts under the 8 learned
      // merges — explode + broadcast vocab join + partial-agg groupBy
      graft.ops.Bpe.encode(t(s, dir, "documents"), n = 8)),
    "text_collocations" -> ((s, dir) =>
      // PMI collocation mining: top-20 adjacent bigrams by lift,
      // single-IEEE-division comparator (no transcendental), integer
      // output; TakeOrderedAndProject, never a global sort
      graft.ops.TextAnalysis.pmiCollocations(t(s, dir, "documents"))),

    // ---------------- deduplication ---------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    "dedup_lines" -> ((s, dir) => {
      // CCNet-style cross-doc LINE dedup over a deterministic
      // multi-line corpus; oracle is an independent SQL formulation
      // (zip-unnest + HAVING threshold + ordered null-skip string_agg)
      Dedup.dropBoilerplateLines(
        Dedup.syntheticMultiline(t(s, dir, "documents")), minDocs = 5)
    }),
    "dedup_exact_hash" -> ((s, dir) => Dedup.exactByHash(t(s, dir, "documents"))),
    "dedup_window" -> ((s, dir) => Dedup.windowSurvivors(t(s, dir, "documents"))),
    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), threshold = 0.95)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), k = 64, bands = 16, threshold = 0.5)),
    "dedup_winnow" -> ((s, dir) =>
      // MOSS winnowing: rightmost-min-of-window fingerprint selection
      // via ONE packed-long window min; local-overlap pairs through a
      // df-capped fingerprint equi-join (stop-gram guard)
      graft.ops.Winnow.matches(t(s, dir, "documents"))),
    "dedup_incremental_lsh" -> ((s, dir) => {
      // incremental crawl-batch dedup: docs >= 400 arrive as the
      // delta; the base's signature table is MATERIALIZED first
      // (localCheckpoint = the persisted side table production reads)
      // and its text is never touched again. Oracle = full pipeline
      // restricted to delta-touching pairs — the incremental contract
      val docs = t(s, dir, "documents")
      val baseSig = Dedup.minhashSignatures(
        docs.filter(col("doc_id") < 400), k = 64, shingleWidth = 3)
        .localCheckpoint(false)
      Dedup.minhashLshIncremental(baseSig,
        docs.filter(col("doc_id") >= 400))
    }),
    "dedup_threshold_sweep" -> ((s, dir) =>
      // (b,r)-tuning harness: exact gram-set Jaccard truth on an
      // audit-bounded universe vs the production banding's candidate
      // set, recall per threshold — all-integer decisions
      graft.ops.Dedup.thresholdSweep(t(s, dir, "documents"))),
    "dedup_minhash_verified" -> ((s, dir) =>
      Dedup.minhashVerified(t(s, dir, "documents"))),
    "dedup_edit" -> ((s, dir) =>
      // edit-distance-decided near-dups: LSH recall + banded
      // Levenshtein precision (threshold overload = Ukkonen k-band
      // early exit); lossless length prefilter decides wide pairs
      // without the DP. Integer sim_permille output.
      Dedup.editVerified(t(s, dir, "documents"))),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(t(s, dir, "documents"))),
    "dedup_simhash_near" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), maxDist = 8)),
    "dedup_simhash_capped" -> ((s, dir) =>
      // cap audit at a bucketCap sf0.01 genuinely exceeds (occupancy
      // runs to 201 distinct values/bucket; cap=50 censors 127 of the
      // 964 ground-truth pairs): brute-force pairs + OBSERVED capped-run
      // flag vs an oracle that PREDICTS the flag from bucket occupancy.
      // Universe bounded like the other cover queries — the brute arm
      // is quadratic in distinct values BY DESIGN (audit, not prod).
      Dedup.simhashCapAudit(t(s, dir, "documents").filter(col("doc_id") < 1000),
        maxDist = 8, bucketCap = 50)),
    "dedup_survivors" -> ((s, dir) => {
      // cluster-representative output (the shape a corpus-scale dedup
      // materializes): min-id connected component over near-dup pairs
      val docs = t(s, dir, "documents")
      Dedup.survivors(docs,
        Dedup.jaccardPairs(docs, threshold = 0.95).select(col("a_id"), col("b_id")))
    }),
    "dedup_cluster_stats" -> ((s, dir) => {
      // dedup observability: log2-bucket histogram of survivor
      // cluster sizes (mega-cluster watch); two tiny rollups over
      // the survivors pipeline
      val docs = t(s, dir, "documents")
      Dedup.clusterStats(Dedup.survivors(docs,
        Dedup.jaccardPairs(docs, threshold = 0.95)
          .select(col("a_id"), col("b_id"))))
    }),
    "dedup_minhash_cover" -> ((s, dir) => {
      // containment cross-check, driver-checkable: minhashVerified is
      // precision-1 by construction (exact Jaccard re-check), so
      // LSH-verified ∪ ground-truth == ground-truth. A false pair from
      // the LSH family would surface as an extra row here. Universe is
      // bounded to doc_id < 1000 (the whole table at sf0.01): the
      // UNBLOCKED ground truth is inherently quadratic-ish on the
      // narrow-vocabulary testdata, so the check stays sf-independent.
      // (500 = the full sf0.01 table, the scale the driver verifies at.)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      Dedup.minhashVerified(docs).select(col("a_id"), col("b_id"))
        .union(Dedup.jaccardPairs(docs, threshold = 0.7, blockCols = Nil)
          .select(col("a_id"), col("b_id")))
        .distinct()
    }),
    "dedup_embedding" -> ((s, dir) =>
      // scale path: LSH-bucket candidates + exact cosine re-check — no
      // driver collect, no full-table broadcast (round-1 fix)
      Similarity.nearDupPairsLsh(t(s, dir, "embeddings"), threshold = 0.45)),
    "dedup_embedding_exact" -> ((s, dir) =>
      // distributed exact pairs via the lossless pivot-bucket prune
      // (no corpus broadcast) — oracle-checked; LSH above is the
      // sub-quadratic scale shape
      Similarity.nearDupPairsExact(t(s, dir, "embeddings"), threshold = 0.45)),
    "dedup_embedding_cover" -> ((s, dir) => {
      // containment cross-check for the LSH row: LSH re-checks exact
      // cosine per candidate (precision 1), so LSH ∪ exact == exact —
      // a false LSH pair would show up as an extra row vs the oracle
      val emb = t(s, dir, "embeddings")
      // lazy checkpoint per arm (round 6): the union.distinct over two
      // deep mapPartitions pipelines re-planned as one tree; with
      // checkpointed arms the distinct sees two leaves (measured ~0.3 s
      // at sf0.1; the same transform HURT dedup_minhash_cover, whose
      // arms are cheap-to-recompute column pipelines — A/B'd both).
      Similarity.nearDupPairsLsh(emb, threshold = 0.45).localCheckpoint(false)
        .union(Similarity.nearDupPairsExact(emb, threshold = 0.45)
          .localCheckpoint(false))
        .distinct()
    }),

    // ---------------- similarity search -----------------------------
    "ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "ann_ivf" -> ((s, dir) => {
      // IVF scale shape: one inverted list per corpus vector, queries
      // probe their 4 nearest of 16 cells, exact re-rank inside lists
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "ann_sq8" -> ((s, dir) => {
      // 8-bit scalar quantization (4x memory) + integer-dot candidate
      // cut + exact re-rank; tie-aware heap keeps the cut partition-
      // independent (integer scores tie often)
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "corpus_hard_negatives" -> ((s, dir) =>
      // contrastive hard-negative mining: per anchor the best EXACT-
      // cosine neighbor in [0.3, 0.9) — informative but below the
      // near-dup ceiling; candidates via the lossless pivot-bucket
      // prune at the band floor, integer-only output
      Similarity.hardNegatives(t(s, dir, "embeddings"))),
    "corpus_kmeans" -> ((s, dir) =>
      // integer Lloyd k-means over SQ8 codes (SemDeDup-style semantic
      // clustering buckets): exact integer argmin assignment,
      // floor(sum/n) re-quantized centroids, k smallest vec_ids init —
      // bit-identical at any parallelism, SQL-replayable
      Similarity.kmeansSq8(t(s, dir, "embeddings"), k = 8, iters = 3)),
    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup end-to-end: integer k-means buckets restrict the
      // pairwise cosine to within-cluster (n²/k), min-id component
      // representative — composes corpus_kmeans + the survivor rule
      Similarity.semanticDedup(t(s, dir, "embeddings"), k = 8, iters = 3,
        threshold = 0.45)),
    "ann_pq" -> ((s, dir) => {
      // product quantization (Jégou et al.): per-subspace integer
      // codebooks from the joint Lloyd loop, ~2-byte codes, ADC
      // lookup-table scan, exact re-rank of the tie-consistent cut
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "corpus_ann_recall" -> ((s, dir) =>
      // ANN eval harness: recall@5 of the ivf/lsh/pq/sq8 approximate
      // pipelines vs exact brute force on the same 10 queries (+ bf
      // control row = 1000); truth localCheckpoint'd once, each
      // pipeline scanned once, integer-only output
      Similarity.annRecall(t(s, dir, "embeddings"))),
    "corpus_heaps" -> ((s, dir) =>
      // Heaps-law vocabulary growth census: exact integer prefix
      // arithmetic (fd*b div n), two map-side-combined aggregates,
      // buckets-row driver cumsum
      Sampling.heapsCensus(t(s, dir, "documents"), buckets = 8)),
    "corpus_cdc_chunks" -> ((s, dir) =>
      // gear-hash content-defined chunking: candidates (h mod 2^5 = 0)
      // are chunking-independent, min/max-length pass, FNV+splitmix fp
      graft.ops.Cdc.chunks(t(s, dir, "documents"))),
    "corpus_cdc_dedup" -> ((s, dir) =>
      // chunk-store dedup census: one fp-keyed aggregation — what a
      // 100 TB warc store saves at chunk granularity
      graft.ops.Cdc.dedupCensus(t(s, dir, "documents"))),
    "corpus_cdc_delta" -> ((s, dir) => {
      // incremental store cost of snapshot N+1: the %3 docs APPEND
      // " v2", so CDC re-uses every chunk before the last boundary —
      // the resync property, now measured in stored bytes
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("source"), col("text"))
      val cur = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.ops.Cdc.storeDelta(prev, cur)
    }),

    // ---------------- text analysis ---------------------------------
    "text_token_stats" -> ((s, dir) => TextAnalysis.tokenStats(t(s, dir, "documents"))),
    "text_readability" -> ((s, dir) =>
      // Flesch–Kincaid grade from exact integer word/sentence/syllable
      // counts; one fixed-shape IEEE expression per row
      TextAnalysis.readability(t(s, dir, "documents"))),
    "corpus_token_compression" -> ((s, dir) =>
      // Kaplan-style chars-per-piece source-quality proxy: exact
      // integer sums + milli-ratios, one partial-agg rollup
      TextAnalysis.tokenCompression(t(s, dir, "documents"))),
    "corpus_dataset_card" -> ((s, dir) =>
      // the release datasheet, quantitative half: exact counts, dup
      // census, source concentration, quality terciles — one corpus
      // scan into a checkpointed narrow projection, integer output
      TextAnalysis.datasetCard(t(s, dir, "documents"))),
    "corpus_quality_drift" -> ((s, dir) =>
      // pipeline monitoring: decile quality buckets on two snapshots
      // + exact integer total-variation distance (PSI needs log; TV
      // is the rational drift metric); <= 10 rows before any join
      TextAnalysis.qualityDrift(t(s, dir, "documents"))),
    "text_date_extract" -> ((s, dir) =>
      // content-date extraction for freshness weighting: first-match
      // kind ladder (iso > mdy > dmy > none), exact int fields,
      // scan-local regex projection; oracle restates every field
      // from the generator arithmetic, never re-parsing
      TextAnalysis.dateExtract(
        TextAnalysis.syntheticDateMix(t(s, dir, "documents")))),
    "corpus_instruction_detect" -> ((s, dir) =>
      // instruct-data contamination routing: marker counts + first-
      // match family ladder (inst_md > inst_tag > qa > chat > none)
      TextAnalysis.instructionDetect(
        TextAnalysis.syntheticInstructMix(t(s, dir, "documents")))),
    "corpus_license_detect" -> ((s, dir) =>
      // compliance routing: first-match license-family ladder
      // (spdx > apache > cc > mit > proprietary > none) over the
      // planted-notice corpus; scan-local signals, one cell rollup
      TextAnalysis.licenseDetect(
        TextAnalysis.syntheticLicenseMix(t(s, dir, "documents")))),
    "text_ngram_novelty" -> ((s, dir) =>
      // memorization-risk / template signal: share of each doc's
      // DISTINCT trigrams seen in no other doc; distinct-in-row
      // before the single gram shuffle, exact integer permille
      graft.ops.Ngram.trigramNovelty(t(s, dir, "documents"))),
    "text_code_detect" -> ((s, dir) =>
      // code-vs-prose routing census: integer line/keyword/indent/
      // symbol signals over the deterministic code-planted corpus;
      // scan-local codegen projection, zero shuffle
      TextAnalysis.codeDetect(
        TextAnalysis.syntheticCodeMix(t(s, dir, "documents")))),
    "text_quality" -> ((s, dir) => TextAnalysis.qualitySignals(t(s, dir, "documents"))),
    "text_quality_score" -> ((s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"))),
    "corpus_quality_auc" -> ((s, dir) =>
      // quality-classifier calibration census: one-vs-rest Mann–
      // Whitney AUC per source, exact 2×midrank integer arithmetic,
      // one IEEE division per group at the very end. The corpus
      // collapses to the bounded distinct-score table (quality is
      // 4-dp-rounded) before any window runs
      TextAnalysis.qualityAuc(t(s, dir, "documents"))),
    "text_langid" -> ((s, dir) => TextAnalysis.langId(t(s, dir, "documents"))),
    "text_lang_confusion" -> ((s, dir) =>
      // lang-ID eval census: metadata lang vs prediction, one partial-
      // agg shuffle to ≤|langs|² cells + broadcast row totals; share
      // is one IEEE division of exact longs
      TextAnalysis.langConfusion(t(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(t(s, dir, "documents"))),
    "text_repetition" -> ((s, dir) => TextAnalysis.repetitionSignals(t(s, dir, "documents"))),
    "text_pii_scrub" -> ((s, dir) => TextAnalysis.piiScrub(t(s, dir, "documents"))),
    "text_rare_trigrams" -> ((s, dir) => TextAnalysis.rareTrigramSignals(t(s, dir, "documents"))),
    "text_keywords" -> ((s, dir) => {
      // per-doc top-3 keywords by tf·idf (RSJ odds, transcendental-
      // free → bit-identical doubles); WindowGroupLimit prunes to k
      // per doc map-side; oracle replicates the exact step order
      val docs = t(s, dir, "documents")
      graft.ops.Search.keywords(docs, docs.count(), k = 3)
    }),
    "text_normalize" -> ((s, dir) => {
      // Unicode hygiene pass (control strip + NFC) over a deterministic
      // mixed-normalization corpus; the oracle states each variant's
      // normalized form in CLOSED FORM (hand-derived UAX #15 ground
      // truth), independent of both engines' normalizers.
      TextAnalysis.normalizeText(
        TextAnalysis.syntheticMessyText(t(s, dir, "documents")))
    }),
    "text_mojibake" -> ((s, dir) => {
      // ftfy-style encoding repair (cp1252-mis-decoded UTF-8, looped
      // to fixpoint for double-encoding) over a deterministic planted
      // corpus; the oracle states each variant's repaired form in
      // CLOSED FORM from the UTF-8/cp1252 tables — independent of
      // both engines' codecs. Zero shuffle, zero-alloc clean path.
      TextAnalysis.repairEncoding(
        TextAnalysis.syntheticMojibakeText(t(s, dir, "documents")))
    }),
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contamination(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20), w = 5)
    }),
    "corpus_fuzzy_decontaminate" -> ((s, dir) => {
      // near-dup benchmark leakage (minhash candidates from a
      // broadcast bench-side band join, exact token-set Jaccard
      // decision) — catches edits/reformatting exact grams miss
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.fuzzyDecontaminate(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
    }),
    "corpus_bloom_decontaminate" -> ((s, dir) => {
      // sketch-only decision path + FP audit: ONLY the 8192-bit
      // bitmap is broadcast; the exact join exists to QUANTIFY the
      // bloom's deterministic false positives (n_false_pos column)
      val docs = t(s, dir, "documents")
      TextAnalysis.bloomDecontaminate(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20), w = 5)
    }),
    // The composed pipeline the individual ops exist FOR: materialize a
    // training-ready corpus view — non-benchmark docs (doc_id < 20 are
    // the held-out eval suite), exact-dedup survivors (ids-only hash
    // shuffle, the 100 TB shape), quality >= 0.6, predicted English,
    // minus benchmark-contaminated docs. Every stage joins on doc_id
    // (small sides broadcast at test SF, natural co-partitioning at
    // scale); the contamination arm is bloom-prefiltered.
    "corpus_training_set" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") >= 20)
      val bench = docs.filter(col("doc_id") < 20)
      // Each per-doc signal arm is CHECKPOINT-BARRIERED before the
      // filters/joins. This is load-bearing, not belt-and-braces:
      // without the barrier, PushDownPredicate substitutes the filter
      // through the signal projection, and for langId's argmax that
      // re-inlines `m = greatest(7 score exprs)` into every CASE branch
      // — where codegen's subexpression elimination cannot reach
      // (branches are conditionally evaluated) — so every marker
      // replace() runs ~8x per row. Measured at sf0.1: the lang arm
      // alone went 0.49 s -> 17.3 s (35x). The checkpoints are LAZY
      // (round 6): a LogicalRDD leaf blocks pushdown exactly like the
      // eager variant, but the four signal arms + final join now
      // materialize in ONE job (independent arm stages overlap)
      // instead of 4 sequential driver-blocking scans. The tables are
      // (id, scalar) — trivially shardable at any scale — and the
      // downstream joins stay lazy and broadcastable.
      val survivors = Dedup.exactByHash(corpus).select("doc_id").localCheckpoint(false)
      val quality = TextAnalysis.qualityScore(corpus).localCheckpoint(false)
      val lang = TextAnalysis.langId(corpus).select(col("doc_id"), col("lang_pred"))
        .localCheckpoint(false)
      val contam = TextAnalysis.contamination(corpus, bench, w = 5)
        .select("doc_id").localCheckpoint(false)
      corpus.join(survivors, Seq("doc_id"))
        .join(quality, Seq("doc_id")).filter(col("quality") >= 0.6)
        .join(lang, Seq("doc_id")).filter(col("lang_pred") === "en")
        .join(contam, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("quality"),
          length(col("text")).cast("long").as("n_chars"))
    }),
    // ---------------- sampling / mixing (post-filter stage) ---------
    "corpus_host_cap" -> ((s, dir) =>
      graft.ops.Sampling.hostCap(t(s, dir, "documents"), k = 15)),
    "corpus_importance" -> ((s, dir) =>
      // DSIR-shaped data selection: hashed-unigram importance weights
      // against the curated target slice, linearized to exact longs +
      // ONE IEEE division (no transcendental in the comparator);
      // bucket totals broadcast, selection TakeOrderedAndProject
      graft.ops.Importance.targetAffinity(t(s, dir, "documents"))),
    "corpus_budget_sample" -> ((s, dir) =>
      graft.ops.Sampling.tokenBudgetSample(t(s, dir, "documents"), budget = 150L)),
    "corpus_interleave" -> ((s, dir) =>
      // stride-scheduled weighted source interleave (the deterministic
      // data-mixing schedule): integer virtual-time keys, global order
      // via the two-pass enumeration — no partitionless window
      graft.ops.Sampling.interleave(t(s, dir, "documents"))),
    "corpus_pack" -> ((s, dir) =>
      // concat-and-chunk sequence packing (GPT training layout): the
      // weighted zipWithIndex two-pass computes each doc's token
      // interval in the virtual concatenated stream; seq_len=256 makes
      // docs both share and straddle sequences at both SFs
      graft.ops.Sampling.pack(t(s, dir, "documents"), seqLen = 256L)),
    "corpus_ngram_lm" -> ((s, dir) =>
      // bigram count-of-counts (Good–Turing frequency-of-frequencies):
      // in-scan zip_with pairing, two partial-agg shuffles, output is
      // O(distinct counts) rows with a min-gram content witness
      graft.ops.Ngram.bigramCountOfCounts(t(s, dir, "documents"))),
    "corpus_lm_coverage" -> ((s, dir) =>
      // CCNet-shaped LM quality scoring without transcendentals:
      // train-split bigram/unigram model tables, held-out coverage as
      // one IEEE division of exact longs (ranks like perplexity)
      graft.ops.Ngram.lmCoverage(t(s, dir, "documents"))),
    "corpus_quality_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail terciles per language: ntile(3) over
      // (quality desc, doc_id) — engine-exact bucket-size rule, zero
      // float threshold comparisons
      graft.ops.Sampling.qualityBuckets(t(s, dir, "documents"))),
    "corpus_vocab" -> ((s, dir) =>
      graft.ops.Sampling.vocabulary(t(s, dir, "documents"), n = 30)),
    "corpus_mix_report" -> ((s, dir) =>
      graft.ops.Sampling.mixReport(t(s, dir, "documents"))),
    "corpus_chunks" -> ((s, dir) =>
      // overlapping context-window chunks (64-token windows, 16-token
      // overlap): pure per-row codegen fan-out, zero Exchange; oracle
      // restates the closed-form chunk-count arithmetic + slicing
      graft.ops.Sampling.chunk(t(s, dir, "documents"),
        chunkTokens = 64, overlap = 16)),
    "corpus_length_profile" -> ((s, dir) =>
      graft.ops.Sampling.lengthProfile(t(s, dir, "documents"))),
    "corpus_pad_waste" -> ((s, dir) =>
      // next-pow2 length-bucket padding cost — the table that decides
      // padded batching vs corpus_pack's concat-and-chunk
      graft.ops.Sampling.padWaste(t(s, dir, "documents"))),
    "corpus_quantile_sketch" -> ((s, dir) =>
      // mergeable log2-bucket (DDSketch γ=2) length histogram →
      // quantile bounds, self-audited against the exact rank value
      graft.ops.Sampling.quantileSketch(t(s, dir, "documents"))),
    "dedup_repeat_spectrum" -> ((s, dir) =>
      // prefix-doubling suffix ranks (chars shuffle once, then
      // integer pairs only); census of repeated 1..64-char windows
      graft.ops.SuffixRank.repeatSpectrum(t(s, dir, "documents"))),
    "corpus_host_split" -> ((s, dir) => {
      // leakage-safe train/val split: host-keyed FNV bucket, docs of
      // one host always land on one side; oracle folds the same FNV
      // in HUGEINT mod 2^64
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.hostDisjointSplit(
        docs.select(col("doc_id"), concat(lit("host"),
          (col("doc_id") % 13).cast("string"), lit(".example")).as("host")),
        valPermille = 150)
    }),
    // incremental crawl: two deterministic snapshot views of documents
    // (dropped urls, new urls, 1-in-3 content edits) classified by one
    // full-outer url join on md5 fingerprints (md5 = oracle-parity
    // choice; the operator takes any fp column)
    "corpus_crawl_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://"), col("source"), lit("/doc"),
          col("doc_id").cast("string")))
      val prev = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("url"), md5(col("text")).as("fp"))
      val cur = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("url"), md5(when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp"))
      graft.ops.Crawl.delta(prev, cur)
    }),
    "corpus_crawl_budget" -> ((s, dir) =>
      // exact integer crawl-slot apportionment (Hamilton / largest
      // remainder): sum(quota) == budget always; 997 is prime so the
      // remainder round genuinely binds at every SF
      graft.ops.Sampling.crawlBudget(t(s, dir, "documents"),
        budget = 997L)),
    "corpus_freshness_budget" -> ((s, dir) =>
      // recency re-weighted apportionment: latest-fetch age from the
      // collapsed crawl log, DYADIC decay (exact longs, no exp()),
      // same Hamilton core — fresh hosts take budget from stale ones
      graft.ops.Crawl.freshnessBudget(t(s, dir, "documents"),
        budget = 997L)),
    "corpus_split_leakage" -> ((s, dir) =>
      // leakage-safe train/val/test split census: split keyed by the
      // exact-dup CLUSTER representative, never the doc; the census
      // counts the clusters a naive per-doc hash split would scatter
      graft.ops.Sampling.splitLeakage(t(s, dir, "documents"))),
    "corpus_mix_anneal" -> ((s, dir) =>
      // two-phase pretrain→anneal mixture schedule: raw token mass vs
      // quality-gated mass (×3 ≥0.7 / ×1 ≥0.4 / ×0), both apportioned
      // by the SAME Hamilton core; prime budgets keep the remainder
      // round binding at every SF
      graft.ops.Sampling.mixAnneal(t(s, dir, "documents"),
        pretrainBudget = 9973L, annealBudget = 1009L)),
    "corpus_term_sketch" -> ((s, dir) =>
      // Count-Min heavy hitters: exact top-10 terms with their CMS
      // estimates (4×256 counter grid — mergeable fixed state; the
      // overcount column IS the audit). All-integer, full oracle replay.
      graft.ops.CountMin.topKWithEstimates(t(s, dir, "documents"),
        d = 4, p = 8, k = 10)),
    "corpus_url_cardinality" -> ((s, dir) =>
      // HyperLogLog distinct-url estimate over the RAW fetch log
      // (duplicates prove register idempotence): fixed 256-register
      // state vs a distinct shuffle that grows with the answer;
      // exact_distinct rides along as the audit arm. Bit-exact oracle
      // (HUGEINT FNV+splitmix replay, register-ordered dyadic fold).
      graft.ops.Cardinality.urlCardinality(
        graft.ops.Crawl.syntheticFetchLog(t(s, dir, "documents"))
          .select(col("url")), p = 8)),
    "corpus_host_cardinality" -> ((s, dir) =>
      // GROUPED HLL: one mergeable 256-register sketch per host over
      // the raw fetch log — per-(host, register) max is the partial
      // aggregate; exact per-host distinct rides along as audit
      graft.ops.Cardinality.hostCardinality(
        graft.ops.Crawl.syntheticFetchLog(t(s, dir, "documents"))
          .select(col("url")), p = 8)),
    "corpus_snapshot_collapse" -> ((s, dir) =>
      // CDX-style collapse of a raw re-crawl log to one row per url
      // (latest fp, version count, churn); engine = single-pass
      // struct-max aggregate, oracle = join-back-on-max-ts wording
      graft.ops.Crawl.collapse(
        graft.ops.Crawl.syntheticFetchLog(t(s, dir, "documents")))),
    "corpus_manifest" -> ((s, dir) =>
      // replication integrity: per-bucket order-independent two-lane
      // xor fingerprints of the collapsed snapshot — diff manifests,
      // not corpora; xor cannot overflow (ANSI-safe fold)
      graft.ops.Crawl.manifest(
        graft.ops.Crawl.collapse(
          graft.ops.Crawl.syntheticFetchLog(t(s, dir, "documents")))
          .select(col("url"), col("latest_fp").as("fp")))),
    "corpus_merge_upsert" -> ((s, dir) => {
      // CDC MERGE (Iceberg MERGE INTO semantics): apply a synthetic
      // change batch (updates, stale late-arrivals, deletes — some
      // outvoted inside the batch — inserts, delete-of-absent no-ops)
      // to the collapsed crawl snapshot; batch collapse + one
      // full-outer url join, late-arrival guard on warc_ts
      val docs = t(s, dir, "documents")
      val base = graft.ops.Crawl.collapse(
        graft.ops.Crawl.syntheticFetchLog(docs))
        .select(col("url"), col("last_ts").as("warc_ts"),
          col("latest_fp").as("fp"))
      graft.ops.Crawl.mergeUpsert(base,
        graft.ops.Crawl.syntheticChangeBatch(docs))
    }),
    "corpus_crawl_delta_summary" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://"), col("source"), lit("/doc"),
          col("doc_id").cast("string")))
      val prev = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("url"), md5(col("text")).as("fp"))
      val cur = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("url"), md5(when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp"))
      graft.ops.Crawl.deltaSummary(prev, cur)
    }),

    // ---------------- web graph (anchors + link analytics) ----------
    // deterministic synthetic web over documents: the ENGINE builds the
    // html (pure codegen concat) and parses it back with the real
    // anchor scanner; the oracle derives the same edges in closed form
    // without ever touching html — a construct+parse round-trip
    // cross-check (q8_funnel pattern). PageRank is integer micro-units
    // end to end, so the iterative ranks are bit-exact on both engines.
    "web_communities" -> ((s, dir) =>
      // synchronous label propagation, 3 rounds: most-frequent
      // neighbor label, lexicographic tie — deterministic (the async
      // variant is run-order-dependent); coarser than components
      graft.ops.WebGraph.communities(graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(t(s, dir, "documents"),
          t(s, dir, "documents").count())))),
    "web_crawl_traps" -> ((s, dir) =>
      // URL template mining: digit runs -> {n}, one (host, template)
      // rollup; parameterized templates with exploding cardinality
      // flag as traps (planted host4 calendar), /doc{n} paths don't
      graft.ops.WebGraph.crawlTraps(
        graft.ops.WebGraph.syntheticTrapFrontier(t(s, dir, "documents")))),
    "web_links" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
    }),
    "web_degrees" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.degrees(graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count())))
    }),
    "web_assortativity" -> ((s, dir) => {
      // degree-assortativity sufficient statistics: exact-long
      // moments + integer Pearson pieces, no division/sqrt; edge list
      // checkpointed once, degree rollups join back broadcast-sized
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.assortativity(graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count())))
    }),
    "web_triangles" -> ((s, dir) => {
      // degree-ordered triangle counting (compact-forward): oriented
      // low→high in (degree, node) order so hub out-degree stays
      // O(√m); each triangle found once from its minimum vertex;
      // oracle enumerates by the DIFFERENT a<b<c string order
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.triangles(graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count())))
    }),
    "web_hyperball" -> ((s, dir) => {
      // HyperBall (Boldi–Vigna): HLL-register ball-size estimates per
      // page, 3 forward rounds at p=4; state ≤ 16 rows/node forever —
      // the only way the neighborhood function scales; exact ball
      // rides along as the audit arm (oracle-affordable only)
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.hyperBall(graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        p = 4, rounds = 3)
    }),
    "web_kcore" -> ((s, dir) => {
      // 3-core of the undirected link graph: synchronous peeling to
      // fixpoint (removal-only, stable-count stop), localCheckpoint
      // per round; oracle unrolls the same peeling to 12 CTE stages
      // (measured fixpoint depth ≤7 at both SFs)
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.kCore(graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count())), k = 3)
    }),
    "web_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.pageRankInt(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        iterations = 5)
    }),
    "web_scc" -> ((s, dir) => {
      // bowtie decomposition: FW-BW trim+coloring SCC over the carved
      // link graph ((s+t)%3 periphery filter — the full graph is one
      // giant SCC); oracle is an INDEPENDENT recursive-closure replay
      val docs = t(s, dir, "documents")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
      val ids = edges.select(
        regexp_extract(col("src"), "doc([0-9]+)$", 1).cast("long").as("src_id"),
        regexp_extract(col("dst"), "doc([0-9]+)$", 1).cast("long").as("dst_id"))
        .where((col("src_id") + col("dst_id")) % 3 =!= 0)
      graft.ops.WebGraph.stronglyConnected(ids)
    }),
    "web_graph_compress" -> ((s, dir) => {
      // BV-style adjacency gap census (storage planning for 10^11
      // edges): zigzag first-delta + gap-1 varint cost per successor
      // list — integer-exact end to end
      val docs = t(s, dir, "documents")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
      graft.ops.WebGraph.gapCompressionStats(edges.select(
        regexp_extract(col("src"), "doc([0-9]+)$", 1).cast("long").as("src_id"),
        regexp_extract(col("dst"), "doc([0-9]+)$", 1).cast("long").as("dst_id")))
    }),
    "dedup_ngram_spans" -> ((s, dir) => {
      // Lee-et-al-style exact-substring dedup at 15-token windows:
      // per-doc duplicated-window starts, union-of-intervals token
      // count, and merged span count — engine keys windows by xxhash64
      // fingerprint, the oracle by the gram string (equal absent
      // 64-bit collisions; G < 1e6 here)
      graft.ops.Dedup.duplicateSpans(t(s, dir, "documents"), w = 15)
    }),
    "web_bm25" -> ((s, dir) => {
      // inverted-index ranked retrieval: self-retrieval workload
      // (first-4-distinct-token queries from docs 0..4), BM25 scoring
      // with the rational odds-ratio idf — all-IEEE +,-,*,/ in a
      // documented step order + term-ordered fold, so the DuckDB
      // first-principles replica hash-matches the doubles exactly
      val docs = t(s, dir, "documents")
      graft.ops.Search.bm25TopK(docs,
        graft.ops.Search.syntheticQueries(docs, nQueries = 5),
        nDocs = docs.count(), k = 10)
    }),
    "web_host_gini" -> ((s, dir) =>
      // crawl-concentration KPI: Gini of per-host token mass via the
      // rank-weighted identity — global rank from the two-pass
      // zipWithIndex pattern (never a partitionless window over
      // hosts), exact-long numerator/denominator, ONE IEEE division
      graft.ops.HostProfile.hostGini(t(s, dir, "documents"))),
    "web_host_profile" -> ((s, dir) => {
      // domain-level reputation rollup (C4/RefinedWeb-style host gate):
      // exact integer signals + one IEEE division; flags bind both ways
      // on the host-differentiated synthetic corpus (thin host 3,
      // parked host 7)
      graft.ops.HostProfile.hostProfile(
        graft.ops.HostProfile.syntheticHostPages(t(s, dir, "documents")))
    }),
    "web_hits" -> ((s, dir) => {
      // Kleinberg hubs/authorities over the same parsed edge set —
      // integer L1-renormalized fixed point, oracle unrolls the
      // identical update order over the closed-form edges
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.hitsInt(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        iterations = 5)
    }),
    "web_url_normalize" -> ((s, dir) => {
      // crawl-frontier canonicalization: engine runs the real RFC-3986
      // normalizer over deterministic messy variants; oracle states
      // the canonical form in closed form per variant
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.normalizeUrls(graft.ops.WebGraph.messyUrls(docs))
    }),
    "web_anchor_text" -> ((s, dir) => {
      // incoming anchor-text profile per target (web-search relevance
      // signal): in-link count, distinct linking hosts, first-8 sorted
      // distinct anchor texts — bounded BEFORE aggregation (rank ≤ 8)
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.anchorTextProfile(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())))
    }),
    "web_robots" -> ((s, dir) => {
      // RFC 9309 crawl-politeness gate: engine PARSES the synthetic
      // robots.txt corpus (groups, wildcards, $-anchor, longest-match);
      // oracle states the outcome per (host%4, variant) cell in closed
      // form — cross-formulation like web_links
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.robotsFilter(
        graft.ops.WebGraph.syntheticFrontier(docs),
        graft.ops.WebGraph.syntheticRobots(s), agent = "graftbot")
    }),
    "web_head_meta" -> ((s, dir) => {
      // head metadata: title / rel=canonical (resolved, self-default) /
      // meta-robots flags; engine scans real markup variants, oracle
      // states each variant's outcome in closed form
      val docs = t(s, dir, "documents")
      graft.ops.PageMeta.extract(graft.ops.PageMeta.syntheticHeads(docs))
    }),
    "web_warc_records" -> ((s, _) => {
      // WARC/1.0 shard ingestion (ISO 28500, the Common-Crawl
      // container): REAL byte-level record framing — version line,
      // CRLF headers, Content-Length-framed payload, record
      // separator — with truncated shards yielding their complete
      // prefix; oracle re-derives every field incl. the FNV payload
      // fingerprint from the generator formula
      import s.implicits._
      val shards = s.range(0, 40, 1, 4)
        .map(id => (id, graft.ops.Warc.syntheticShard(id)))
        .toDF("shard_id", "warc")
      graft.ops.Warc.records(shards)
    }),
    "web_url_params" -> ((s, dir) =>
      // crawl-frontier canonicalization planning: per query-param
      // urls carried, distinct values (constant decoration vs
      // identifier), tracking-strip flag; real query-string parse,
      // one partial-agg shuffle; oracle restates the counts from the
      // variant arithmetic
      graft.ops.WebGraph.urlParamCensus(
        graft.ops.WebGraph.paramUrls(t(s, dir, "documents")))),
    "web_sitemap_gap" -> ((s, dir) => {
      // crawl-completeness audit: REAL sitemap-protocol parse (urlset
      // / sitemapindex / lastmod / truncated-entry leniency) vs the
      // fetched url set — dead declarations and undeclared crawl per
      // host; oracle restates every entry in closed form
      val docs = t(s, dir, "documents")
      val fetched = docs.select(concat(lit("https://host"),
        (col("doc_id") % 13).cast("string"), lit(".example/doc"),
        col("doc_id").cast("string")).as("url"))
      graft.ops.WebGraph.sitemapCoverage(
        graft.ops.WebGraph.syntheticSitemaps(docs), fetched)
    }),
    "web_redirects" -> ((s, dir) => {
      // redirect-chain canonicalization: pointer doubling resolves
      // chains of length 0..5 in <= 3 rounds; oracle is an independent
      // recursive walk (step-by-step, not doubled)
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.resolveRedirects(
        graft.ops.WebGraph.syntheticRedirects(docs))
    }),
    "web_canonical_map" -> ((s, dir) => {
      // composed canonicalization: redirect collapse (pointer doubling)
      // then ONE hop of the terminal page's declared rel=canonical;
      // oracle is built from the same closed-form CTEs the component
      // oracles use, so the composition itself is what's checked
      val docs = t(s, dir, "documents")
      graft.ops.PageMeta.canonicalMap(
        graft.ops.PageMeta.extract(graft.ops.PageMeta.syntheticHeads(docs)),
        graft.ops.WebGraph.syntheticRedirects(docs))
    }),
    "web_canonical_clusters" -> ((s, dir) => {
      // canonical-cluster dedup summary: size, declared-arrival count,
      // representative = the canonical itself when fetched else min url
      val docs = t(s, dir, "documents")
      // head-parse projection feeds the map AND the membership join:
      // checkpoint so it is parsed once (round 6)
      val meta = graft.ops.PageMeta.extract(
        graft.ops.PageMeta.syntheticHeads(docs)).localCheckpoint(false)
      graft.ops.PageMeta.canonicalClusters(
        graft.ops.PageMeta.canonicalMap(meta,
          graft.ops.WebGraph.syntheticRedirects(docs)), meta)
    }),
    "web_crawl_schedule" -> ((s, dir) => {
      // composed politeness pipeline: robots gate → per-host priority
      // rank → Crawl-delay spacing; oracle restates the allowed cells
      // and delays in closed form and replicates the rank arithmetic
      val docs = t(s, dir, "documents")
      val robots = graft.ops.WebGraph.syntheticRobots(s)
      val gated = graft.ops.WebGraph.robotsFilter(
        graft.ops.WebGraph.syntheticFrontier(docs), robots, "graftbot")
        .filter(col("allowed"))
        .select(col("doc_id"), col("url"),
          regexp_extract(col("url"), "^https?://([^/?#]+)", 1).as("host"),
          (col("doc_id") % 100).as("priority"))
      graft.ops.WebGraph.scheduleCrawl(gated,
        graft.ops.WebGraph.robotsDelays(robots, "graftbot"),
        defaultDelayMs = 1000L)
    }),
    "web_cocitation" -> ((s, dir) => {
      // Small'73 co-citation ("related pages"): pairs cited together,
      // out-degree cap BINDS (3 < max out-degree 4) so the skew guard
      // itself is oracle-checked, not just present
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.coCitation(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        minCount = 1, maxOutDegree = 3)
    }),
    "web_bibcoupling" -> ((s, dir) => {
      // Kessler'63 bibliographic coupling: pairs citing the same
      // targets; in-degree cap 6 censors the popular-target tail
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.bibCoupling(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        minCount = 2, maxInDegree = 6)
    }),
    "web_components" -> ((s, dir) => {
      // weakly connected components of the url link graph (mirror/
      // walled-garden clustering): sparse block-permutation edges give
      // 7 non-trivial components per 25-doc block; labels are min-url,
      // oracle is an independent recursive-reachability formulation
      graft.ops.WebGraph.weaklyConnected(
        graft.ops.WebGraph.syntheticBlockEdges(t(s, dir, "documents")))
    }),
    "web_spam_mass" -> ((s, dir) => {
      // link-spam demotion signal (Gyongyi et al.): the share of a
      // page's PageRank not backed by seed trust — both integer fixed
      // points as columns of one rank pass, totals aligned exactly,
      // all-long output
      val docs = t(s, dir, "documents")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
      graft.ops.WebGraph.spamMass(edges,
        graft.ops.WebGraph.syntheticSeeds(docs, mod = 17))
    }),
    "web_trustrank" -> ((s, dir) => {
      // seeded PageRank (TrustRank family): teleport mass restricted
      // to the seed set (docs ≡ 0 mod 17) — the spam-demotion
      // complement to web_pagerank; same bit-exact integer recursion,
      // oracle replays it with the closed-form seed set
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.pageRankSeeded(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        graft.ops.WebGraph.syntheticSeeds(docs, mod = 17),
        iterations = 5)
    }),
    "web_phrase_search" -> ((s, dir) => {
      // exact-phrase retrieval over a positional inverted index:
      // engine = postings ⋈ broadcast query terms + anchor votes;
      // oracle = brute-force token-window scan (independent wording).
      // Queries are 3-token phrases drawn from the corpus itself.
      val docs = t(s, dir, "documents")
      graft.ops.Search.phraseSearch(docs,
        graft.ops.Search.syntheticPhrases(docs))
    }),
    "web_host_overlap" -> ((s, dir) => {
      // host-level content overlap via mergeable minhash union (mirror
      // detection): a planted full mirror of src0 scores 1000 permille
      // against its original; organic host pairs sit at 31-109. Hosts
      // meet only where a signature lane coincides — never all-pairs.
      val docs = t(s, dir, "documents")
      val mirrored = docs.filter(col("source") === "src0")
        .withColumn("source", lit("mirror0"))
      graft.ops.Dedup.hostOverlap(docs.unionByName(mirrored),
        minMatches = 2)
    }),
    "web_reciprocity" -> ((s, dir) => {
      // per-host link reciprocity (link-farm/webspam feature): the
      // organic anchor graph unioned with a planted mutual-link ring
      // on farm.example — the farm scores exactly 10^6 ppm, organic
      // hosts near zero. Engine = semi-join on the reversed composite
      // key; oracle = INTERSECT set algebra (independent wording).
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.reciprocity(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
          .select(col("src"), col("dst"))
          .union(graft.ops.WebGraph.syntheticFarmEdges(docs)))
    }),
    "web_graph_reorder" -> ((s, dir) => {
      // ordering-vs-compression census (the WebGraph/BV lesson):
      // price the SAME edge set under natural doc ids vs a BFS
      // renumbering (two-pass rank, never a partitionless window);
      // one summary row per ordering
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.graphReorder(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        graft.ops.WebGraph.syntheticSeeds(docs, mod = 29))
    }),
    "web_crawl_depth" -> ((s, dir) => {
      // BFS crawl depth from the mod-29 seed set over the anchor
      // graph (frontier planning: what's reachable within k hops).
      // Engine = frontier BFS with per-level checkpoints, all levels
      // chained with no per-level barrier; oracle = recursive
      // min-over-all-walks CTE — two independent formulations of
      // shortest hop count.
      val docs = t(s, dir, "documents")
      graft.ops.WebGraph.crawlDepth(
        graft.ops.WebGraph.extractAnchors(
          graft.ops.WebGraph.syntheticWeb(docs, docs.count())),
        graft.ops.WebGraph.syntheticSeeds(docs, mod = 29),
        maxDepth = 10)
    }),
    "web_hostrank" -> ((s, dir) => {
      // Common-Crawl-style host-level rank: collapse page edges to
      // host edges (same regexp both sides), reuse the same kernel
      val docs = t(s, dir, "documents")
      val edges = graft.ops.WebGraph.extractAnchors(
        graft.ops.WebGraph.syntheticWeb(docs, docs.count()))
      val hostEdges = edges.select(
        regexp_extract(col("src"), "^https://([^/]+)", 1).as("src"),
        regexp_extract(col("dst"), "^https://([^/]+)", 1).as("dst"))
      graft.ops.WebGraph.pageRankInt(hostEdges, iterations = 5)
    }),

    // ---------------- multimodal plumbing ---------------------------
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.metadata(
        t(s, dir, "documents").select(col("doc_id"),
          encode(substring(col("text"), 1, 8), "utf-8").as("payload")))
        .select(col("doc_id"), col("n_bytes"), col("head_hex"))),
    "multimodal_pixels" -> ((s, _) => {
      // REAL pixel decode (JDK ImageIO) over a deterministic synthetic
      // PNG corpus: 50 groups × 4 perturbation variants; integer-exact
      // luminance stats + 64-bit perceptual aHash per image
      import s.implicits._
      val media = s.range(0, 200, 1, 4).map { id =>
        (id, Multimodal.syntheticPng(id / 4, (id % 4).toInt))
      }.toDF("doc_id", "payload")
      Multimodal.pixelFeatures(media).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("mean_luma_q"), col("ahash"))
    }),
    "multimodal_framehash" -> ((s, _) => {
      // video-container plumbing: build a deterministic GVID corpus,
      // re-PARSE the bytes (magic/counts/length prefixes/truncation),
      // stride-sample frames, FNV fingerprint each, census how many
      // videos share a frame. The oracle re-derives every hash from
      // the generator formula — any build/parse divergence breaks it.
      import s.implicits._
      val vids = s.range(0, 240, 1, 4)
        .map(id => (id, Multimodal.syntheticVideo(id)))
        .toDF("doc_id", "payload")
      Multimodal.videoFrameDedup(vids, stride = 2)
    }),
    "multimodal_audio" -> ((s, _) => {
      // audio-column plumbing: REAL RIFF/WAVE PCM-16 parse (chunk walk
      // incl. odd-size junk chunks + declared-vs-actual truncation
      // clamp) over a deterministic synthetic clip corpus; integer-
      // exact per-clip stats, position-weighted sum pins the channel
      // interleave. Oracle re-derives every sample from the generator
      // formula — any build/parse divergence breaks the match.
      import s.implicits._
      val clips = s.range(0, 120, 1, 4)
        .map(id => (id, Multimodal.syntheticWav(id)))
        .toDF("doc_id", "payload")
      Multimodal.audioFeatures(clips)
    }),
    "multimodal_exif" -> ((s, _) => {
      // EXIF privacy-scrub census: REAL JPEG segment walk + endian-
      // aware TIFF IFD parse (Orientation/DateTime/GPS rationals →
      // exact signed centi-arcseconds) over a deterministic synthetic
      // corpus incl. a truncated arm; oracle re-derives every field
      // from the generator formula — the build/parse round trip is
      // what the match proves
      import s.implicits._
      val imgs = s.range(0, 200, 1, 4)
        .map(id => (id, Multimodal.syntheticExifJpeg(id)))
        .toDF("doc_id", "payload")
      Multimodal.exifCensus(imgs)
    }),
    "multimodal_phash_dedup" -> ((s, _) => {
      // image near-dup at corpus scale: perceptual aHash fed into the
      // SAME pigeonhole banding as text SimHash (hammingNearDups64) —
      // variants within a group sit ≤3 bits apart, groups ~32 apart,
      // so exactly the 6 within-group pairs per group surface
      import s.implicits._
      val media = s.range(0, 200, 1, 4).map { id =>
        (id, Multimodal.syntheticPng(id / 4, (id % 4).toInt))
      }.toDF("doc_id", "payload")
      val hashes = Multimodal.pixelFeatures(media).toDF()
        .select(col("doc_id"), col("ahash").as("h"))
      Dedup.hammingNearDups64(hashes, maxDist = 6, bucketCap = 500)
    }),
    "multimodal_features" -> ((s, dir) =>
      // hash-stable scalar outputs only (round 1's raw array<float>
      // column crashed the driver's hash compare)
      Multimodal.extractFeatures(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "utf-8").as("payload"))).toDF()
        .select(col("doc_id"), col("n_bytes"), col("format"),
          col("feature_hash"), round(col("feature_norm"), 4).as("feature_norm")))
  )

  /** DuckDB equivalents (driver hashes result values with columns
    * sorted by name — names/types match the Spark side exactly). The
    * extraction-family queries run the engine itself over seeded
    * synthetic corpora, so their oracles are frozen expected outputs
    * (`FrozenOracles`, the driver-visible form of the sbt goldens —
    * regenerated consciously via OracleFreeze, red on any drift). */
  def oracleSql: Map[String, String] = graft.spark.FrozenOracles.sql ++ Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q3_antijoin" ->
      "SELECT c_custkey FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')",
    "q4_window_topk" ->
      """SELECT user_id, event_id, rn FROM (
        | SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        | FROM events) WHERE rn <= 3""".stripMargin,
    "q5_except" ->
      "SELECT p_partkey FROM part EXCEPT SELECT l_partkey AS p_partkey FROM lineitem WHERE l_quantity > 45",
    "q6_distinct_agg" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem""".stripMargin,
    "q10_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q14_cube" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    "q11_pivot" ->
      """SELECT user_id % 10 AS cohort,
        | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q7_sessionize" -> graft.ops.Events.sessionizeOracleSql(21600L * 1000000L),
    "q12_asof" -> graft.ops.Events.asofOracleSql(
      matchType = "click", queryType = "purchase"),
    "q13_overlap" -> graft.ops.Events.sessionOverlapOracleSql(
      gapUs = 3600L * 1000000L, where = "user_id % 11 = 0"),
    "web_triangles" -> graft.ops.WebGraph.trianglesOracleSql,
    "web_kcore" -> graft.ops.WebGraph.kCoreOracleSql(k = 3),
    "web_hyperball" -> graft.ops.Cardinality.hyperBallOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql, p = 4, rounds = 3),
    "corpus_ngram_lm" -> graft.ops.Ngram.bigramCountOfCountsOracleSql(),
    "corpus_lm_coverage" -> graft.ops.Ngram.lmCoverageOracleSql(),
    "web_graph_compress" -> graft.ops.WebGraph.gapCompressionOracleSql,
    "web_scc" -> graft.ops.WebGraph.sccOracleSql,
    "corpus_quality_buckets" ->
      (s"WITH q AS (${qualityScoreSql()}),\n" +
        """t AS (SELECT d.doc_id, d.lang, q.quality,
          |  ntile(3) OVER (PARTITION BY d.lang
          |    ORDER BY q.quality DESC, d.doc_id ASC) AS tile
          | FROM documents d JOIN q USING (doc_id))
          |SELECT doc_id, lang, quality,
          | CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
          |FROM t""".stripMargin),
    "corpus_pack" -> graft.ops.Sampling.packOracleSql(seqLen = 256L),
    "corpus_interleave" -> graft.ops.Sampling.interleaveOracleSql,
    // deliberately the SAME oracle as q7: the streaming session_window
    // state store must reproduce the batch sessions exactly (the
    // exact-gap boundary MERGES on both sides — pinned in FunnelSpec,
    // so one oracle covers both formulations unconditionally)
    "stream_sessionize" -> graft.ops.Events.sessionizeOracleSql(21600L * 1000000L),
    "stream_late_events" -> graft.ops.Events.lateEventsOracleSql(),
    "stream_dedup_ttl" -> graft.ops.Events.dedupTtlOracleSql(),
    // lower medians via the rank formulation (value at a rank is
    // tie-order-proof)
    "events_anomaly_mad" -> graft.ops.Events.hourlyAnomaliesOracleSql(),
    "events_json_props" -> graft.ops.Events.jsonPropsOracleSql(),
    "stream_attribution" -> graft.ops.Events.attributionOracleSql(3600L * 1000000L),
    "corpus_shard_assign" -> graft.ops.Sampling.shardAssignOracleSql(64L),
    "corpus_epoch_order" -> graft.ops.Sampling.epochOrderOracleSql(),
    "corpus_shuffle_adjacency" ->
      graft.ops.Sampling.shuffleAdjacencyOracleSql(),
    // cross-formulation stop rule: engine running-overflow max vs
    // oracle NOT-EXISTS earlier-overflow
    "corpus_epoch_allocation" ->
      graft.ops.Sampling.epochAllocationOracleSql(),
    "corpus_reshard_churn" -> graft.ops.Sampling.reshardChurnOracleSql(),
    "corpus_bpe_merges" -> graft.ops.Bpe.mergesOracleSql(8),
    "corpus_bpe_encode" -> graft.ops.Bpe.encodeOracleSql(8),
    "corpus_fertility" -> graft.ops.Bpe.fertilityOracleSql(8),
    "text_collocations" -> graft.ops.TextAnalysis.pmiOracleSql(),
    "text_readability" -> graft.ops.TextAnalysis.readabilityOracleSql(),
    // planted arms in closed form + Java-RE2-common-subset regexes
    "text_code_detect" -> graft.ops.TextAnalysis.codeDetectOracleSql(),
    // generate_series slice formulation vs the engine's double zip_with
    "text_ngram_novelty" -> graft.ops.Ngram.trigramNoveltyOracleSql(),
    "corpus_quality_drift" -> {
      // shared quality SQL on both snapshot subqueries (concatenated,
      // never re-stripMargin'd); TV restated with the same integer
      // algebra
      val prevQ = qualityScoreSql(
        table = "(SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0)")
      val curQ = qualityScoreSql(
        table = "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 " +
          "THEN text || ' v2' ELSE text END AS text " +
          "FROM documents WHERE doc_id % 7 <> 0)")
      "WITH pq AS (\n" + prevQ + "\n),\ncq AS (\n" + curQ + "\n),\n" +
        """pb AS (SELECT least(CAST(floor(quality * 10) AS BIGINT), 9) AS bucket,
          |  CAST(count(*) AS BIGINT) AS n_prev FROM pq GROUP BY 1),
          |cb AS (SELECT least(CAST(floor(quality * 10) AS BIGINT), 9) AS bucket,
          |  CAST(count(*) AS BIGINT) AS n_cur FROM cq GROUP BY 1),
          |j AS (SELECT coalesce(pb.bucket, cb.bucket) AS bucket,
          |  coalesce(n_prev, 0) AS n_prev, coalesce(n_cur, 0) AS n_cur
          |  FROM pb FULL OUTER JOIN cb ON pb.bucket = cb.bucket),
          |t AS (SELECT CAST(sum(n_prev) AS BIGINT) AS tp,
          |  CAST(sum(n_cur) AS BIGINT) AS tc FROM j),
          |tv AS (SELECT CAST(sum(abs(n_prev * (SELECT tc FROM t)
          |    - n_cur * (SELECT tp FROM t))) * 500
          |    // ((SELECT tp FROM t) * (SELECT tc FROM t)) AS BIGINT) AS v
          |  FROM j)
          |SELECT bucket, n_prev, n_cur,
          |  CAST(n_prev * 1000 // (SELECT tp FROM t) AS BIGINT) AS prev_share_permille,
          |  CAST(n_cur * 1000 // (SELECT tc FROM t) AS BIGINT) AS cur_share_permille,
          |  (SELECT v FROM tv) AS tv_permille
          |FROM j""".stripMargin
    },
    "corpus_dataset_card" ->
      ("WITH q AS (\n" + qualityScoreSql(key = "doc_id, lang, source") +
        "\n),\n" +
        """proj AS (
          |  SELECT q.lang, q.source, q.quality,
          |    CAST(len(list_filter(string_split_regex(lower(d.text),
          |      '[\s\x0b]+'), x -> len(x) > 0)) AS BIGINT) AS toks,
          |    CAST(length(d.text) AS BIGINT) AS chars, d.text
          |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
          |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(toks) AS BIGINT) AS n_tokens,
          |  CAST(sum(chars) AS BIGINT) AS n_chars,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
          |  CAST(sum(CASE WHEN quality >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS q_hi_docs,
          |  CAST(sum(CASE WHEN quality >= 0.4 AND quality < 0.7
          |    THEN 1 ELSE 0 END) AS BIGINT) AS q_mid_docs,
          |  CAST(sum(CASE WHEN quality < 0.4 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS q_lo_docs FROM proj),
          |st AS (SELECT CAST(max(t) AS BIGINT) AS top FROM
          |  (SELECT sum(toks) AS t FROM proj GROUP BY source))
          |SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
          |  n_distinct_texts,
          |  CAST(n_docs - n_distinct_texts AS BIGINT) AS n_dup_docs,
          |  (SELECT top FROM st) AS top_source_tokens,
          |  CAST((SELECT top FROM st) * 1000 // n_tokens AS BIGINT)
          |    AS top_source_tokens_permille,
          |  q_hi_docs, q_mid_docs, q_lo_docs
          |FROM a""".stripMargin),
    "corpus_license_detect" ->
      graft.ops.TextAnalysis.licenseDetectOracleSql(),
    "text_date_extract" -> graft.ops.TextAnalysis.dateExtractOracleSql(),
    "corpus_instruction_detect" ->
      graft.ops.TextAnalysis.instructionDetectOracleSql(),
    "corpus_token_compression" ->
      graft.ops.TextAnalysis.tokenCompressionOracleSql(),
    "q9_retention" -> graft.ops.Events.retentionOracleSql(
      eventsSrc = "(SELECT * FROM events WHERE event_id % 11 = 0)"),
    "q8_funnel" -> graft.ops.Events.funnelOracleSql(
      Seq("signup", "view", "click", "purchase"), where = "event_id % 7 = 0"),
    "dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text",
    "dedup_lines" -> Dedup.boilerplateLinesOracleSql(minDocs = 5),
    // same oracle as dedup_exact: the hash-shuffle variant must produce
    // identical results (collision-free at any test scale)
    "dedup_exact_hash" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text",
    "dedup_window" ->
      """SELECT lang, doc_id, n_chars FROM (
        | SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
        | FROM documents) WHERE rn = 1""".stripMargin,
    "dedup_jaccard" ->
      """WITH toks AS (
        | SELECT doc_id, lang, source, unnest(list_distinct(list_filter(
        |   string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0))) AS tok
        | FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        | FROM toks a JOIN toks b ON a.lang = b.lang AND a.source = b.source
        |   AND a.tok = b.tok AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id,
        | CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON inter.a_id = sa.doc_id
        |JOIN sizes sb ON inter.b_id = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.95""".stripMargin,
    "dedup_embedding_exact" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin,
    // full hyperplane-LSH pipeline replicated in SQL (EmbeddingOracle):
    // splitmix64 hyperplanes, ordered-fold dots, sign bits, bucket
    // join, exact-cosine re-check / top-k re-rank
    "dedup_embedding" -> graft.ops.EmbeddingOracle.nearDupSql(),
    "ann_lsh" -> graft.ops.EmbeddingOracle.annSql(),
    // IVF pipeline replicated in SQL: deterministic centroid stream,
    // ordered-fold cosines, (cos DESC, cell ASC) assignment/probes,
    // cell equi-join, exact-cosine top-k re-rank
    "ann_ivf" -> graft.ops.EmbeddingOracle.ivfSql(),
    // full SQ8 pipeline replicated in SQL: FLOAT ranges, floor-clamp
    // quantization in the same IEEE step order, integer-dot cut,
    // ordered-fold exact re-rank
    "ann_sq8" -> graft.ops.EmbeddingOracle.sq8Sql(),
    // brute-force band + ordered-fold argmax; the native cosine is
    // only an epsilon-slack prefilter (decides nothing)
    "corpus_hard_negatives" -> graft.ops.EmbeddingOracle.hardNegSql(),
    "corpus_kmeans" -> graft.ops.EmbeddingOracle.kmeansSql(),
    // per-subspace Lloyd unroll + ADC restated as the direct
    // (sub, sd) squared-difference sum against the assigned centroid
    "ann_pq" -> graft.ops.EmbeddingOracle.pqSql(),
    // Lloyd stages + within-cluster cosine pairs + recursive closure
    "dedup_semantic" -> graft.ops.EmbeddingOracle.semanticSql(),
    // every approximate pipeline's full oracle as a scoped subquery
    // LEFT-joined to the shared brute-force truth; integer recall
    "corpus_ann_recall" -> graft.ops.EmbeddingOracle.annRecallSql(),
    // cumulative form stated directly as inequality joins
    "corpus_heaps" -> graft.ops.Sampling.heapsOracleSql(buckets = 8),
    // rolling gear hash restated as the 64-term windowed sum; chunk
    // recursion over next-candidate lookups; FNV+splitmix HUGEINT fp
    "corpus_cdc_chunks" -> graft.ops.Cdc.chunksOracleSql(),
    "corpus_cdc_dedup" -> graft.ops.Cdc.censusOracleSql(),
    // two prefixed chunk pipelines + fp anti-membership + packed-min
    // ownership — same snapshot synthesis as corpus_crawl_delta
    "corpus_cdc_delta" -> graft.ops.Cdc.storeDeltaOracleSql(
      "SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 0",
      "SELECT doc_id, source, CASE WHEN doc_id % 3 = 0 THEN text || ' v2' " +
        "ELSE text END AS text FROM documents WHERE doc_id % 7 <> 0"),
    // containment check: LSH ∪ exact must equal the exact set (LSH is
    // precision-1 — every candidate is re-checked with exact cosine)
    "dedup_embedding_cover" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin,
    // containment check: minhash-LSH-then-exact-verify ∪ ground truth
    // must equal the UNBLOCKED Jaccard≥0.7 pair set
    "dedup_minhash_cover" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_distinct(list_filter(
        |   string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0))) AS tok
        | FROM documents WHERE doc_id < 500),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        | FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id
        |FROM inter
        |JOIN sizes sa ON inter.a_id = sa.doc_id
        |JOIN sizes sb ON inter.b_id = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.7""".stripMargin,
    // min-id connected components over the blocked Jaccard≥0.95 pairs
    // (DuckDB: recursive reachability, then min per vertex)
    "dedup_survivors" -> survivorsOracleSql,
    "dedup_cluster_stats" ->
      ("WITH surv AS (" + survivorsOracleSql + "),\n" +
        """cz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS sz
          |      FROM surv GROUP BY rep_id),
          |b AS (SELECT rep_id, sz,
          |      CAST(length(bin(sz)) AS BIGINT) AS bucket FROM cz)
          |SELECT bucket, CAST(count(*) AS BIGINT) AS n_clusters,
          |  CAST(sum(sz) AS BIGINT) AS n_docs,
          |  CAST(max(sz) AS BIGINT) AS max_size,
          |  CAST(min(rep_id) AS BIGINT) AS min_rep
          |FROM b GROUP BY bucket""".stripMargin),

    "ann_bruteforce" ->
      """SELECT query_id, neighbor_id, rn AS rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |            CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |) WHERE rn <= 5""".stripMargin,
    "text_token_stats" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_pieces,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(coalesce(list_sum(list_transform(
        |   list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0),
        |   x -> len(x))), 0) AS BIGINT) AS sum_tok_len
        |FROM documents""".stripMargin,
    "text_quality" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0) AS toks
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(len(list_filter(toks, t -> list_contains(
        |   ['the','a','an','of','to','in','and','or','is','are','was','for','on','with','as','by','at','it','this','that'], t))) AS BIGINT) AS n_stopwords,
        | CAST(len(list_filter(toks, t -> len(t) > 15)) AS BIGINT) AS n_long_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT) AS n_punct
        |FROM base""".stripMargin,
    "text_quality_score" -> qualityScoreSql(),
    "corpus_quality_auc" -> qualityAucSql(),
    "text_repetition" ->
      """WITH base AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0) AS toks
        | FROM documents),
        |bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1))) AS g
        | FROM base),
        |bgf AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS top_c FROM bgf GROUP BY 1)
        |SELECT b.doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        | CASE WHEN len(toks) = 0 THEN 0.0
        |  ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dup_token_frac,
        | CAST(coalesce(top.top_c, 0) AS BIGINT) AS top_bigram_count,
        | CASE WHEN len(toks) <= 1 THEN 0.0
        |  ELSE CAST(coalesce(top.top_c, 0) AS DOUBLE) / (len(toks) - 1) END AS top_bigram_frac
        |FROM base b LEFT JOIN top ON b.doc_id = top.doc_id""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(length(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g')) AS BIGINT) AS redacted_len
        |FROM documents""".stripMargin,
    "text_rare_trigrams" ->
      """WITH tri AS (
        | SELECT doc_id,
        |  unnest(list_transform(generate_series(1, length(lower(text)) - 2),
        |    i -> substr(lower(text), i, 3))) AS t
        | FROM documents),
        |g AS (SELECT t, count(*) AS c FROM tri GROUP BY t),
        |s AS (SELECT sum(c) AS total, count(*) AS nd FROM g),
        |rare AS (SELECT g.t FROM g, s WHERE g.c * 4 * s.nd < s.total)
        |SELECT tri.doc_id, count(*) AS n_trigrams,
        | CAST(sum(CASE WHEN rare.t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |FROM tri LEFT JOIN rare ON tri.t = rare.t
        |GROUP BY tri.doc_id""".stripMargin,
    "text_keywords" -> graft.ops.Search.keywordsOracleSql(k = 3),
    // closed-form UAX #15 ground truth: the oracle never calls a
    // normalizer — each variant's NFC form + codepoint lengths are
    // hand-derived constants (see TextAnalysis.normalizeOracleSql)
    "text_normalize" -> TextAnalysis.normalizeOracleSql,
    "text_mojibake" -> TextAnalysis.mojibakeOracleSql,
    // full HUGEINT FNV replay of the hashed-feature pipeline + the
    // same exact-longs/one-division weight algebra
    "corpus_importance" -> graft.ops.Importance.targetAffinityOracleSql(),
    "text_decontaminate" -> decontaminateSql,
    "corpus_bloom_decontaminate" -> graft.ops.TextAnalysis.bloomOracleSql(),
    // full HUGEINT signature replica; CROSS bucket join (no cap —
    // the bench side bounds every bucket), exact-Jaccard decision
    "corpus_fuzzy_decontaminate" ->
      graft.ops.MinhashOracle.fuzzyDecontaminateSql(split = 20),
    // composed pipeline: same component SQL, parameterized on the
    // non-benchmark corpus subquery (single source of truth with the
    // standalone rows — the components can't drift from the pipeline)
    "corpus_training_set" -> trainingSetSql,
    // sampling / mixing: deterministic windows + integer aggregates —
    // the Knuth shuffle key (((doc_id mod 2^31)*2654435761) mod 2^32,
    // masked so the product can never overflow BIGINT on either
    // engine) and all cumulative sums are BIGINT-exact on both engines
    "corpus_host_cap" ->
      s"""WITH q AS (${qualityScoreSql()}),
         |r AS (
         | SELECT d.doc_id, d.source, q.quality,
         |  CAST(row_number() OVER (
         |    PARTITION BY d.source ORDER BY q.quality DESC, d.doc_id ASC) AS BIGINT) AS rn
         | FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, source, quality, rn FROM r WHERE rn <= 15""".stripMargin,
    "corpus_budget_sample" ->
      """WITH st AS (
        | SELECT doc_id, lang, source,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  ((doc_id % 2147483648) * 2654435761) % 4294967296 AS k
        | FROM documents),
        |c AS (
        | SELECT doc_id, lang, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY k ASC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        | FROM st)
        |SELECT doc_id, lang, source, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 150""".stripMargin,
    // exact discrete quantiles via rank arithmetic (value at row
    // ceil(p*n)) — integer-deterministic on both engines, unlike
    "corpus_chunks" -> graft.ops.Sampling.chunkOracleSql(
      chunkTokens = 64, overlap = 16),
    // percentile_approx / quantile sketches
    "corpus_length_profile" ->
      """WITH r AS (
        | SELECT source, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY length(text) ASC, doc_id ASC) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n
        | FROM documents)
        |SELECT source,
        | max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_chars END) AS p50,
        | max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_chars END) AS p90,
        | max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_chars END) AS p99,
        | max(n_chars) AS max_chars,
        | CAST(count(*) AS BIGINT) AS n_docs
        |FROM r GROUP BY source""".stripMargin,
    // log2 buckets by recursive-doubling bounds + range join (no
    // log2()/bin() float or formatting parity assumptions)
    "corpus_quantile_sketch" -> graft.ops.Sampling.quantileSketchOracleSql(),
    "corpus_pad_waste" -> graft.ops.Sampling.padWasteOracleSql,
    // the OTHER formulation: direct truncated-substring grouping —
    // the doubling recursion never appears in the oracle
    "dedup_repeat_spectrum" -> graft.ops.SuffixRank.spectrumOracleSql(),
    "corpus_snapshot_collapse" -> graft.ops.Crawl.collapseOracleSql(
      graft.ops.Crawl.fetchLogOracleSql),
    "corpus_manifest" -> graft.ops.Crawl.manifestOracleSql(
      "SELECT url, latest_fp AS fp FROM (" +
        graft.ops.Crawl.collapseOracleSql(
          graft.ops.Crawl.fetchLogOracleSql) + ")"),
    "corpus_merge_upsert" -> graft.ops.Crawl.mergeUpsertOracleSql(
      "SELECT url, last_ts AS warc_ts, latest_fp AS fp FROM (" +
        graft.ops.Crawl.collapseOracleSql(
          graft.ops.Crawl.fetchLogOracleSql) + ")",
      graft.ops.Crawl.changeBatchOracleSql),
    "corpus_crawl_budget" -> graft.ops.Sampling.crawlBudgetOracleSql(997L),
    "corpus_freshness_budget" ->
      graft.ops.Crawl.freshnessBudgetOracleSql(997L),
    "corpus_split_leakage" -> graft.ops.Sampling.splitLeakageOracleSql(),
    "corpus_mix_anneal" -> graft.ops.Sampling.mixAnnealOracleSql(
      qualityScoreSql(key = "doc_id, source"), 9973L, 1009L),
    "corpus_term_sketch" -> graft.ops.CountMin.oracleSql(d = 4, p = 8, k = 10),
    "corpus_url_cardinality" -> graft.ops.Cardinality.oracleSql(
      "SELECT url FROM (" + graft.ops.Crawl.fetchLogOracleSql + ")", p = 8),
    "corpus_host_cardinality" -> graft.ops.Cardinality.hostOracleSql(
      "SELECT url FROM (" + graft.ops.Crawl.fetchLogOracleSql + ")", p = 8),
    "corpus_crawl_delta" ->
      """WITH d AS (
        | SELECT doc_id, text,
        |  'https://' || source || '/doc' || CAST(doc_id AS VARCHAR) AS url
        | FROM documents),
        |p AS (SELECT url, md5(text) AS fp FROM d WHERE doc_id % 5 <> 0),
        |c AS (SELECT url, md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS fp
        |      FROM d WHERE doc_id % 7 <> 0)
        |SELECT coalesce(p.url, c.url) AS url,
        | CASE WHEN p.url IS NULL THEN 'added'
        |      WHEN c.url IS NULL THEN 'removed'
        |      WHEN p.fp IS DISTINCT FROM c.fp THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM p FULL OUTER JOIN c ON p.url = c.url""".stripMargin,
    "corpus_crawl_delta_summary" ->
      """WITH d AS (
        | SELECT doc_id, text,
        |  'https://' || source || '/doc' || CAST(doc_id AS VARCHAR) AS url
        | FROM documents),
        |p AS (SELECT url, md5(text) AS fp FROM d WHERE doc_id % 5 <> 0),
        |c AS (SELECT url, md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS fp
        |      FROM d WHERE doc_id % 7 <> 0),
        |delta AS (
        | SELECT CASE WHEN p.url IS NULL THEN 'added'
        |             WHEN c.url IS NULL THEN 'removed'
        |             WHEN p.fp IS DISTINCT FROM c.fp THEN 'changed'
        |             ELSE 'unchanged' END AS status
        | FROM p FULL OUTER JOIN c ON p.url = c.url)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_urls
        |FROM delta GROUP BY status""".stripMargin,
    // web graph: closed-form edge derivation (the engine parses real
    // html; the oracle never does) + staged integer-PageRank replica
    "web_links" -> graft.ops.WebGraph.syntheticEdgesOracleSql,
    "web_crawl_traps" -> graft.ops.WebGraph.crawlTrapsOracleSql(),
    "web_communities" -> graft.ops.WebGraph.communitiesOracleSql()
      .replace("%EDGES%", graft.ops.WebGraph.syntheticEdgesOracleSql),
    // edges SQL substituted AFTER stripMargin — its lines can begin
    // with `||`, which an outer stripMargin would eat one pipe of
    "web_degrees" ->
      """WITH raw_e AS (%EDGES%),
        |e AS (SELECT DISTINCT src, dst FROM raw_e WHERE src <> dst),
        |outd AS (SELECT src AS url, CAST(count(*) AS BIGINT) AS out_deg
        |         FROM e GROUP BY src),
        |ind AS (SELECT dst AS url, CAST(count(*) AS BIGINT) AS in_deg
        |        FROM e GROUP BY dst)
        |SELECT coalesce(outd.url, ind.url) AS url,
        | CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
        | CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
        |FROM outd FULL OUTER JOIN ind ON outd.url = ind.url""".stripMargin
        .replace("%EDGES%", graft.ops.WebGraph.syntheticEdgesOracleSql),
    "web_url_normalize" -> graft.ops.WebGraph.messyUrlsOracleSql,
    "web_assortativity" -> graft.ops.WebGraph.assortativityOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql),
    "web_anchor_text" -> graft.ops.WebGraph.anchorTextOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql),
    "web_robots" -> graft.ops.WebGraph.robotsOracleSql,
    "web_crawl_schedule" -> graft.ops.WebGraph.crawlScheduleOracleSql(1000L),
    "web_redirects" -> graft.ops.WebGraph.redirectsOracleSql,
    "web_sitemap_gap" -> graft.ops.WebGraph.sitemapGapOracleSql,
    "web_url_params" -> graft.ops.WebGraph.urlParamsOracleSql,
    "web_warc_records" -> graft.ops.Warc.recordsOracleSql(40),
    "web_head_meta" -> graft.ops.PageMeta.headsOracleSql,
    "web_canonical_map" -> graft.ops.PageMeta.canonicalMapOracleSql,
    "web_canonical_clusters" ->
      graft.ops.PageMeta.canonicalClustersOracleSql,
    "web_spam_mass" -> graft.ops.WebGraph.spamMassOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql,
      graft.ops.WebGraph.syntheticSeedsSql(17)),
    "web_pagerank" -> graft.ops.WebGraph.pageRankOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql, iterations = 5),
    "web_hits" -> graft.ops.WebGraph.hitsOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql, iterations = 5),
    "web_host_profile" -> graft.ops.HostProfile.hostProfileOracleSql,
    "web_host_gini" -> graft.ops.HostProfile.hostGiniOracleSql(),
    "web_bm25" -> graft.ops.Search.bm25OracleSql(nQueries = 5, k = 10),
    "dedup_ngram_spans" -> graft.ops.Dedup.duplicateSpansOracleSql(w = 15),
    "web_cocitation" -> graft.ops.WebGraph.pairCountsOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql,
      "src", "dst", "cocite", minCount = 1, maxDegree = 3),
    "web_bibcoupling" -> graft.ops.WebGraph.pairCountsOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql,
      "dst", "src", "coupling", minCount = 2, maxDegree = 6),
    "web_components" -> graft.ops.WebGraph.weaklyConnectedOracleSql(
      graft.ops.WebGraph.blockEdgesOracleSql()),
    "web_trustrank" -> graft.ops.WebGraph.trustRankOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql,
      graft.ops.WebGraph.syntheticSeedsSql(17), iterations = 5),
    "web_host_overlap" -> graft.ops.MinhashOracle.hostOverlapSql(
      k = 64, minMatches = 2,
      docSrc = "(SELECT doc_id, text, source FROM documents UNION ALL " +
        "SELECT doc_id, text, 'mirror0' AS source FROM documents " +
        "WHERE source = 'src0')"),
    "web_phrase_search" -> graft.ops.Search.phraseSearchOracleSql(),
    "web_reciprocity" -> graft.ops.WebGraph.reciprocityOracleSql(
      "SELECT src, dst FROM (" + graft.ops.WebGraph.syntheticEdgesOracleSql +
        ")\nUNION ALL\n" + graft.ops.WebGraph.farmEdgesOracleSql()),
    "web_graph_reorder" -> graft.ops.WebGraph.graphReorderOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql,
      graft.ops.WebGraph.syntheticSeedsSql(29)),
    "web_crawl_depth" -> graft.ops.WebGraph.crawlDepthOracleSql(
      graft.ops.WebGraph.syntheticEdgesOracleSql,
      graft.ops.WebGraph.syntheticSeedsSql(29), maxDepth = 10),
    "web_hostrank" -> graft.ops.WebGraph.pageRankOracleSql(
      """SELECT regexp_extract(src, '^https://([^/]+)', 1) AS src,
        |       regexp_extract(dst, '^https://([^/]+)', 1) AS dst
        |FROM (%EDGES%)""".stripMargin
        .replace("%EDGES%", graft.ops.WebGraph.syntheticEdgesOracleSql),
      iterations = 5),
    "corpus_vocab" ->
      """WITH toks AS (
        | SELECT unnest(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0)) AS token
        | FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM toks GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 30""".stripMargin,
    "corpus_mix_report" ->
      """WITH st AS (
        | SELECT lang, source,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        | FROM documents)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM st GROUP BY lang, source""".stripMargin,
    "corpus_host_split" -> graft.ops.Sampling.hostSplitOracleSql(150),
    // langId is pure column expressions; the oracle is generated from
    // the same marker table + fold order (single source of truth)
    "text_langid" -> graft.ops.TextAnalysis.langIdOracleSql(),
    "text_lang_confusion" -> graft.ops.TextAnalysis.langConfusionOracleSql(),
    // simhash family: Spark's xxhash64 (XXH64 seed 42) replicated in
    // DuckDB HUGEINT arithmetic (SimhashOracle) — the near oracle is
    // the full hamming pair join, valid at driver scale where the
    // pigeonhole banding is complete and no bucket hits the cap
    "dedup_simhash" -> graft.ops.SimhashOracle.simhashSql,
    "dedup_simhash_near" -> graft.ops.SimhashOracle.nearDupSql(8),
    // cap audit: brute-force pair universe + first-principles cap
    // prediction — NOT a pipeline replica (see SimhashOracle scaladoc)
    "dedup_simhash_capped" -> graft.ops.SimhashOracle.capAuditSql(8, 50),
    // full MinHash/LSH pipeline replicated in SQL (MinhashOracle):
    // FNV token/shingle hashing, splitmix64 permutations with signed
    // mins, band hashes, bucket join, est/exact thresholds
    "dedup_minhash_lsh" -> graft.ops.MinhashOracle.lshSql(),
    "dedup_incremental_lsh" -> graft.ops.MinhashOracle.lshIncrementalSql(400L),
    "dedup_winnow" -> graft.ops.Winnow.matchesOracleSql(),
    "dedup_minhash_verified" -> graft.ops.MinhashOracle.verifiedSql(),
    // gram truth from the SAME sh3 stage; shared-gram equi-join
    // formulation vs the engine's bounded crossJoin
    "dedup_threshold_sweep" -> graft.ops.MinhashOracle.thresholdSweepSql(),
    "dedup_edit" -> graft.ops.MinhashOracle.editVerifiedSql(),
    // content-signature features replicated exactly (recursive-CTE FNV
    // chain + exact dyadic accumulator sums; Multimodal scaladoc)
    "multimodal_features" -> Multimodal.featuresOracleSql(),
    // first-principles replay: frame hashes from the generator formula
    // (HUGEINT FNV), never from the container bytes — proves the
    // build/parse round trip
    "multimodal_framehash" -> Multimodal.frameDedupOracleSql(240, 2),
    "multimodal_exif" -> Multimodal.exifOracleSql(200),
    "multimodal_audio" -> Multimodal.audioOracleSql(120),
    // doc_fingerprint replicated in SQL: the rolling recurrence
    // h_i = h_{i-1}·B + c_i − B^16·c_{i−16} telescopes to the closed
    // form h_i = OFF·B^{i+1} + Σ_{m=0..15} c_{i−m}·B^m (mod 2^64), so
    // each window hash is independently computable. HUGEINT carries
    // the mod-2^64 arithmetic (every product stays under int128 —
    // OFF·B^e is kept premultiplied in its own power table);
    // xor(signed, h >>> 33) is the finalizer; min over windows; docs
    // shorter than the 16-char window return the raw running hash.
    // charAt = UTF-16 unit == codepoint for BMP text (the corpus).
    "text_fingerprint" ->
      """WITH RECURSIVE
        |maxlen AS (SELECT coalesce(max(length(text)), 0) + 1 AS L FROM documents),
        |pw(m, p, q) AS (
        |  SELECT 0, CAST(1 AS HUGEINT), CAST(14695981039346656037 AS HUGEINT)
        |  UNION ALL
        |  SELECT m + 1,
        |    (p * 1099511628211) % 18446744073709551616,
        |    (q * 1099511628211) % 18446744073709551616
        |  FROM pw WHERE m < (SELECT L FROM maxlen)),
        |pows AS (SELECT list(p ORDER BY m) AS pl, list(q ORDER BY m) AS po FROM pw),
        |base AS (
        |  SELECT doc_id, length(text) AS len,
        |    list_transform(generate_series(1, length(text)),
        |      i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT)) AS codes
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, len, codes, unnest(generate_series(16, len)) AS e
        |  FROM base WHERE len >= 16),
        |hashes AS (
        |  SELECT doc_id,
        |    (po[e + 1] + list_sum(list_transform(generate_series(0, 15),
        |       m -> codes[e - m] * pl[m + 1]))) % 18446744073709551616 AS hu
        |  FROM wins, pows),
        |mixed AS (
        |  SELECT doc_id,
        |    xor(CAST(CASE WHEN hu < 9223372036854775808 THEN hu
        |             ELSE hu - 18446744073709551616 END AS BIGINT),
        |        CAST(hu // 8589934592 AS BIGINT)) AS mx
        |  FROM hashes),
        |longdocs AS (SELECT doc_id, min(mx) AS fingerprint FROM mixed GROUP BY doc_id),
        |shortdocs AS (
        |  SELECT doc_id,
        |    CASE WHEN len = 0 THEN 0 ELSE
        |      CAST(CASE WHEN hv < 9223372036854775808 THEN hv
        |           ELSE hv - 18446744073709551616 END AS BIGINT) END AS fingerprint
        |  FROM (
        |    SELECT doc_id, len,
        |      (po[len + 1] + coalesce(list_sum(list_transform(generate_series(1, len),
        |         j -> codes[j] * pl[len - j + 1])), 0)) % 18446744073709551616 AS hv
        |    FROM base, pows WHERE len < 16))
        |SELECT doc_id, fingerprint FROM longdocs
        |UNION ALL SELECT doc_id, fingerprint FROM shortdocs""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(substring(text, 1, 8))) AS BIGINT) AS n_bytes,
        | hex(encode(substring(text, 1, 8))) AS head_hex
        |FROM documents""".stripMargin
  )
}
