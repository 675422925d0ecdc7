package graft.spark

import java.sql.Timestamp

/** Input row — Common-Crawl-style pages table (BASELINE.json input_hint):
  * (url, warc_ts, html BINARY, text, lang). */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Output row (FIXTURES.md §2). `n_bytes` is carried for the checkpoint
  * table and dropped from the extracted output. `markdown` and `html`
  * are built only when the query reads them (`ExtractJob.PruneOutputs`),
  * so `duration_ms` times only the outputs the plan built: a text-only
  * read reports shorter durations than a full one for the same doc. */
final case class ExtractedDoc(
    url: String,
    text: String,
    markdown: String,
    html: String,
    title: String,
    n_pages: Int,
    n_spans: Int,
    duration_ms: Double,
    status: String, // ok | error | skipped_oversize
    error_msg: String,
    n_bytes: Long,
    partition_id: Int)

/** Per-row lineage + metrics (FIXTURES.md §2 checkpoint schema): one row
  * per url, written by `ExtractJob.runWithCheckpoint`. `attempt` names the
  * staged output that owns the url. `ExtractJob` reads the table with this
  * class's schema. */
final case class CheckpointRow(
    run_id: String,
    attempt: String,
    partition_id: Int,
    url: String,
    status: String,
    duration_ms: Double,
    n_bytes: Long,
    finished_at: Timestamp)
