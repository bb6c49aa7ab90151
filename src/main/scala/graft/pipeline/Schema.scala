package graft.pipeline

import java.sql.Timestamp

/** Input row: the Iceberg/Common-Crawl-style page table (input_hint schema:
  * url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  * `html` is the raw payload (PDF bytes or HTML bytes); `text` is the
  * ground-truth extracted text carried by the corpus for verification. */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Pruned projection for the heavy transform: only the columns the extractor
  * needs reach `mapPartitions`, so Catalyst prunes `text`/`warc_ts` at the
  * parquet scan (ReadSchema shrinks; at 100 TB the `text` column never
  * leaves the scan). */
final case class ExtractInput(url: String, html: Array[Byte], lang: String)

/** One extracted character-span: [start,end) in the extracted text plus the
  * source offset of the producing region (content-stream payload offset for
  * PDF, char offset for HTML) — the reference's TextStore line→byte-offset
  * idea (TextStoreLib/TextStore.cs:81-144) as a column. */
/** `src_line` is the 1-based line number of `src_offset` in the raw source
  * document (reference TextStore line semantics — see pdf/TextStore.scala);
  * -1 when line capture was not requested (it costs one extra pass over the
  * document bytes). */
final case class SpanRow(start: Int, end: Int, src_offset: Int, kind: String, src_line: Int = -1)

/** Output row of the extraction pipeline. Errors are captured per row, never
  * thrown — one malformed document must not fail a 10^12-row job
  * (reference: PdfPage.cs:70-81, PdfContent.cs:191-202). */
final case class ExtractedDoc(
    url: String,
    kind: String, // "pdf" | "html"
    text: String,
    title: String, // HTML <title>, empty for PDF
    spans: Seq[SpanRow],
    pages: Int, // PDF page count; 1 for HTML
    n_chars: Int,
    decode_failures: Int,
    error: String, // empty when clean
    lang: String,
    html_bytes: Long)
