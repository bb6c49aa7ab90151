package graft.pipeline

import graft.html.Boilerplate
import graft.pdf.{PdfExtract, WorkBuffers}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction pipeline: classify each page payload (PDF header sniff per
  * Tokeniser.cs:180-209 vs everything-else-is-HTML), route to the matching
  * per-row pure extractor inside ONE `mapPartitions`, and emit typed output
  * rows with captured errors and span offsets.
  *
  * Scale design (100 TB / 1000 executors):
  *  - the transform is a narrow map — zero shuffles; throughput scales with
  *    cores as long as input splits are balanced;
  *  - [[salted]] pre-shuffles on a hash-salt so one parquet file full of
  *    50 MB PDFs can't pin a single task (AQE alone can't split a pathological
  *    input row group); the salt count is the target parallelism;
  *  - per-partition buffer reuse mirrors the reference's explicit
  *    multi-file-loop allocation reuse (Tokeniser.cs:141-170): one
  *    Inflater/StringBuilder/work buffer per partition, not per row;
  *  - only (url, html, lang) reach the transform ([[ExtractInput]]) so the
  *    scan prunes the wide text column.
  */
object ExtractPipeline {

  /** Pure per-row extraction — also usable outside Spark; the ONE place
    * payload routing and error capture live (the full-text and metrics-only
    * paths both call it, so they cannot diverge). `captureLines` adds each
    * PDF span's 1-based source line (TextStore semantics) at the cost of one
    * extra pass over the document bytes; off in the bulk path.
    * `captureText = false` skips the PDF path's full-document text copy and
    * empties `text` (n_chars still reports the assembled length). */
  def extractOne(url: String, payload: Array[Byte], lang: String,
      delimiter: String, buffers: WorkBuffers,
      captureLines: Boolean = false, captureText: Boolean = true): ExtractedDoc = {
    val nBytes = if (payload == null) 0L else payload.length.toLong
    if (payload == null || payload.isEmpty) {
      ExtractedDoc(url, "empty", "", "", Nil, 0, 0, 1, "empty payload", lang, nBytes)
    } else if (PdfExtract.isPdf(payload)) {
      // fragments are a debugging surface; the bulk pipeline skips the copy
      val r = PdfExtract.extract(payload, contentDelimiter = delimiter,
        buffers = buffers, captureFragments = false, captureLines = captureLines,
        captureText = captureText)
      ExtractedDoc(url, "pdf", r.text, "",
        r.spans.map(s => SpanRow(s.start, s.end, s.srcOffset, s.kind, s.srcLine)),
        r.pages, r.nChars, r.decodeFailures, r.error.getOrElse(""), lang, nBytes)
    } else {
      try {
        val html = Boilerplate.decode(payload)
        val r = Boilerplate.extract(html)
        val nls = if (captureLines) Boilerplate.newlinePositions(html) else null
        ExtractedDoc(url, "html", if (captureText) r.text else "", r.title,
          r.spans.map(s => SpanRow(s.start, s.end, s.srcOffset, s.kind,
            if (nls != null) Boilerplate.lineOf(nls, s.srcOffset) else -1)),
          1, r.text.length, 0, "", lang, nBytes)
      } catch {
        case e: Exception =>
          ExtractedDoc(url, "html", "", "", Nil, 1, 0, 1,
            e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""), lang, nBytes)
      }
    }
  }

  /** Column-pruned, buffer-reusing extraction transform. It is a narrow
    * map, so it runs unchanged over a `readStream` source as well. */
  def run(pages: Dataset[PageRow], delimiter: String = "",
      captureLines: Boolean = false): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col("url"), col("html"), col("lang"))
      .as[ExtractInput]
      .mapPartitions { it =>
        val buffers = new WorkBuffers()
        it.map(r => extractOne(r.url, r.html, r.lang, delimiter, buffers, captureLines))
      }
  }

  /** Metrics-only extraction: the full parse runs but (a) the PDF path
    * skips the final full-document text copy (`captureText = false` —
    * lengths come from the shared builder) and (b) the output row carries
    * no text/spans, so nothing wide is serialized between the map and the
    * downstream agg. This is the job shape for counting/profiling runs
    * (tokens, decode failures, corpus stats) where the extracted text is
    * never stored — at 100 TB the difference is the text column's worth of
    * row-serialization plus the per-doc copy, with zero change to what is
    * parsed. */
  def runMetrics(pages: Dataset[PageRow], delimiter: String = ""): Dataset[ExtractMetricsRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col("url"), col("html"), col("lang"))
      .as[ExtractInput]
      .mapPartitions { it =>
        val buffers = new WorkBuffers()
        it.map { r =>
          // the SAME routing/error capture as run() — see extractOne
          val d = extractOne(r.url, r.html, r.lang, delimiter, buffers, captureText = false)
          ExtractMetricsRow(d.url, d.kind, d.pages, d.n_chars, d.decode_failures, d.lang, d.html_bytes)
        }
      }
  }

  /** Salted repartition against oversized-document skew: uniform hash salt,
    * `numPartitions` ≈ total cores (or a small multiple at high skew). At
    * cluster scale this is the difference between a stage tail of one task
    * chewing a 2 GB row group and an even spread. */
  def salted(pages: Dataset[PageRow], numPartitions: Int): Dataset[PageRow] =
    // repartition on the 64-bit url hash itself: HashPartitioning re-hashes
    // the expression value, so pre-bucketing it with pmod would funnel the
    // n salt values through a second hash and collide them
    pages.repartition(numPartitions, xxhash64(col("url")))

  /** Size-aware routing (SURVEY §4 tactic c) in ONE scan and ONE shuffle:
    * AQE's REBALANCE partitioning splits output partitions by BYTE SIZE
    * (spark.sql.adaptive.optimizeSkewsInRebalancePartitions, on by
    * default), so a handful of 50 MB PDFs get isolated toward one-doc-per-
    * task while 1 KB pages coalesce to full partitions — without reading
    * the input twice (the previous two-filtered-lanes design scanned the
    * table once per lane) and staying deterministic under task retry
    * (round-robin is not). `numPartitions`/`bigBytes` kept for API
    * stability; AQE sizes the result itself. */
  def sizeRouted(pages: Dataset[PageRow], numPartitions: Int,
      bigBytes: Int = 4 << 20): Dataset[PageRow] =
    pages.hint("rebalance", col("url")) // attribute, not expression: hint rule requirement
}
