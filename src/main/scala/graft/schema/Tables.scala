package graft.schema

import java.sql.Timestamp

/**
 * Fixed schemas for every pipeline stage (SURVEY.md §1.3: the reference's
 * dynamic `RelikReaderSample` dict — `/root/reference/relik/reader/data/
 * relik_reader_sample.py:17-56` — becomes typed Datasets with explicit
 * Encoders).
 */

/** The north-rule input table (BASELINE.json:input_hint). */
case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Ground-truth cluster membership emitted by the generator. */
case class GoldCluster(url: String, entity_id: Long)

/** A scored pair above threshold (stage-3 output) — a match edge. */
case class MatchEdge(
    url_a: String,
    url_b: String,
    jaro: Double,
    lev_sim: Double,
    jaccard: Double,
    score: Double)

/** One annotation: entity `label` at [start, end) of a doc — char or token
  * coordinates by context (`/root/reference/relik/inference/data/objects.py:55-58`). */
case class Span(start: Int, end: Int, label: String, text: String)

/** Relation triple between two spans (`objects.py:60-64`). */
case class Triplet(subject: Span, label: String, obj: Span, confidence: Double)

/** One token with its char offsets (`spacy_tokenizer.py:123-194` contract). */
case class Token(text: String, i: Int, idx: Int, idx_end: Int)
