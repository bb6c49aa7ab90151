package graft

import graft.pipeline.{Checkpoint, Corpus, ExtractPipeline}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query is ordered on both sides and emits only
  * BIGINT/STRING/TIMESTAMP columns (no engine-computed floats in the
  * hash-compared output). The extraction round-trips are the north_rule's
  * byte-identity gate: the corpus generator constructs PDF/HTML payloads
  * whose reference-semantics extraction equals `documents.text` exactly, so
  * DuckDB can assert byte-identical extraction without parsing a PDF.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def docIdFromUrl: Column =
    element_at(split(col("url"), "/"), -1).cast("long").as("doc_id")

  /** The gate `name`'s own scratch output directory under
    * `java.io.tmpdir`, emptied first so the gate is idempotent. The gate's
    * result reads it lazily, so it is deleted only when the JVM exits. */
  private def scratchOut(s: SparkSession, dir: String, name: String): String = {
    val outDir = s"${sys.props("java.io.tmpdir")}/graft_${name}_${Integer.toHexString(dir.hashCode)}"
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.mkdirs(p)
    fs.deleteOnExit(p) // registers only a path that exists
    outDir
  }

  /** `rows` read the way a user of the library reads extraction: committed
    * to the gate's scratch output and read back from the table. */
  private def committed(s: SparkSession, dir: String, name: String,
      rows: Checkpoint.Rows): DataFrame = {
    val outDir = scratchOut(s, dir, name)
    Checkpoint.commitWithData(rows, outDir)
    Checkpoint.readExtracted(s, outDir)
  }

  private def extracted(s: SparkSession, dir: String, name: String): DataFrame =
    committed(s, dir, name, ExtractPipeline.run(Corpus.pagesCached(s, dir), delimiter = ""))

  /** Flagship: the full mixed PDF+HTML extraction pipeline on sf=0.001. */
  def entry(spark: SparkSession): DataFrame =
    extracted(spark, "/root/testdata/sf0.001", "entry")
      .select(col("url"), col("kind"), col("text"), col("pages"),
        col("n_chars"), col("decode_failures"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ extraction pipeline
    "pdf_extract_roundtrip" -> ((s, dir) => {
      extracted(s, dir, "pdf_extract_roundtrip").where(col("kind") === "pdf")
        .select(docIdFromUrl, col("text"))
        .orderBy("doc_id")
    }),
    "pdf_spans" -> ((s, dir) => {
      // per-span BYTE accuracy gate (round 5): the fixed-layout span probe
      // (Corpus.pdfSpanProbe) pins every content stream's payload to the
      // affine file address 46 + 2225*i, so the oracle can check the
      // actual (start, end, src_offset) values — not just the span COUNT
      // the mixed-pipeline gate hashes
      import s.implicits._
      val pages = docs(s, dir).where(length(col("text")) > 0)
        .select("doc_id", "text", "lang").as[(Long, String, String)]
        .map { case (id, t, lang) => Corpus.spanProbePageRowFor(id, t, lang) }
      // captureLines: src_line (the reference TextStore's 1-based line of
      // the span's source offset) is also closed-form — the probe has
      // exactly 5 newlines per object and 4 before payload 0, and its
      // streams are UNCOMPRESSED, so no pseudorandom 0x0A bytes shift lines
      committed(s, dir, "pdf_spans", ExtractPipeline.run(pages, delimiter = "", captureLines = true))
        .select(docIdFromUrl, posexplode(col("spans")))
        .select(col("doc_id"), col("pos").cast("long").as("span_idx"),
          col("col.start").cast("long").as("start_pos"),
          col("col.end").cast("long").as("end_pos"),
          col("col.src_offset").cast("long").as("src_offset"),
          col("col.src_line").cast("long").as("src_line"))
        .orderBy("doc_id", "span_idx")
    }),
    "html_spans" -> ((s, dir) => {
      // HTML-path twin of pdf_spans: the fixed-layout probe
      // (Corpus.htmlSpanProbe — one <p> per 20-word block, no escaping, no
      // chrome) makes every span's [start,end), source char offset
      // (69 + 8i + cumlen) and source line (3 + i) a closed form of the
      // word array. Docs whose text contains & < > are excluded on BOTH
      // sides (the probe writes raw text nodes), as are lone <=16-word
      // blocks (NumWordsRules drops them; the oracle replicates the rule)
      import s.implicits._
      val pages = docs(s, dir)
        .where(length(trim(col("text"))) > 0 && !col("text").rlike("[&<>]"))
        .select("doc_id", "text", "lang").as[(Long, String, String)]
        .map { case (id, t, lang) => Corpus.htmlSpanProbePageRowFor(id, t, lang) }
      committed(s, dir, "html_spans", ExtractPipeline.run(pages, delimiter = "", captureLines = true))
        .select(docIdFromUrl, posexplode(col("spans")))
        .select(col("doc_id"), col("pos").cast("long").as("span_idx"),
          col("col.start").cast("long").as("start_pos"),
          col("col.end").cast("long").as("end_pos"),
          col("col.src_offset").cast("long").as("src_offset"),
          col("col.src_line").cast("long").as("src_line"),
          col("col.kind").as("kind"))
        .orderBy("doc_id", "span_idx")
    }),
    "html_extract_roundtrip" -> ((s, dir) => {
      extracted(s, dir, "html_extract_roundtrip").where(col("kind") === "html")
        .select(docIdFromUrl, col("title"), col("text"))
        .orderBy("doc_id")
    }),
    "crawl_delta" -> ((s, dir) => {
      // recrawl snapshot reconciliation (Recrawl.delta — the monthly-
      // recrawl work-list shrinker): prev = every doc; next drops ids%7==0
      // (removed), rewrites the payload on the surviving ids%5==0
      // (changed), keeps the rest byte-identical, and adds new-<id> urls
      // for ids%3==0 — every status a closed form of doc_id
      val d = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val url = concat(lit(Corpus.UrlPrefix), col("doc_id"))
      val prev = d.select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
      val nextOld = d.where(col("doc_id") % 7 =!= 0).select(
        url.as("url"),
        md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit("x")))
          .otherwise(col("text")).cast("binary")).as("fp"))
      val added = d.where(col("doc_id") % 3 === 0).select(
        concat(lit(Corpus.UrlPrefix), lit("new-"), col("doc_id")).as("url"),
        md5(concat(lit("n"), col("doc_id")).cast("binary")).as("fp"))
      graft.pipeline.Recrawl.delta(prev, nextOld.unionByName(added), "url", "fp")
        .orderBy("url")
    }),
    "html_charset_roundtrip" -> ((s, dir) => {
      // charset transport: the SAME payload in UTF-8+BOM / windows-1252
      // meta / ISO-8859-1 http-equiv / UTF-16LE+BOM (by doc_id%4) must
      // extract byte-identically — the marker words are non-ASCII, so a
      // wrong decode cannot accidentally match the oracle
      import s.implicits._
      docs(s, dir).select("doc_id", "text").as[(Long, String)]
        .map { case (id, t) =>
          val decoded = graft.html.Boilerplate.decode(Corpus.htmlCharsetProbe(id, t))
          (id, graft.html.Boilerplate.extract(decoded).text)
        }.toDF("doc_id", "text")
        .orderBy("doc_id")
    }),
    "html_layout_roundtrip" -> ((s, dir) => {
      // layout surface: lists render with "- " markers, table-row cells join
      // with " | " — the corpus distributes each doc's words over a fixed
      // p/ul/table structure so the expected text is a word-slicing
      // expression DuckDB can compute (see Corpus.htmlLayoutFromText)
      import s.implicits._
      val pages = docs(s, dir).select("doc_id", "text", "lang")
        .as[(Long, String, String)]
        .map { case (id, t, lang) => Corpus.layoutPageRowFor(id, t, lang) }
      committed(s, dir, "html_layout_roundtrip", ExtractPipeline.run(pages, delimiter = ""))
        .select(docIdFromUrl, col("text"))
        .orderBy("doc_id")
    }),
    "pdf_extract_delim_roundtrip" -> ((s, dir) => {
      // the reference's DEFAULT ContentDelimiter "|" (PdfParser.cs:83):
      // every show-op appends decoded+"|", reconstructable in SQL as
      // 64-char re-chunking of the source text
      committed(s, dir, "pdf_extract_delim_roundtrip",
        ExtractPipeline.run(Corpus.pagesCached(s, dir), delimiter = "|"))
        .where(col("kind") === "pdf")
        .select(docIdFromUrl, col("text"))
        .orderBy("doc_id")
    }),
    "extract_pipeline_mixed" -> ((s, dir) => {
      extracted(s, dir, "extract_pipeline_mixed")
        .select(docIdFromUrl, col("kind"),
          col("n_chars").cast("long").as("n_chars"),
          col("pages").cast("long").as("pages"),
          size(col("spans")).cast("long").as("n_spans"),
          col("decode_failures").cast("long").as("failures"))
        .orderBy("doc_id")
    }),
    "extract_metrics_by_lang" -> ((s, dir) => {
      extracted(s, dir, "extract_metrics_by_lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("total_chars"),
          sum(col("decode_failures").cast("long")).as("total_failures"))
        .orderBy("lang")
    }),
    "resume_after_checkpoint" -> ((s, dir) => {
      val pages = Corpus.pagesCached(s, dir)
      val outDir = scratchOut(s, dir, "ckpt")
      // first run "completed" every doc_id % 7 == 0
      val firstBatch = ExtractPipeline.run(
        pages.where(element_at(split(col("url"), "/"), -1).cast("long") % 7 === 0),
        delimiter = "")
      Checkpoint.commitWithData(firstBatch, outDir)
      // resume: left-anti join against the manifest, extract the remainder
      val remaining = Checkpoint.resume(pages, outDir)
      committed(s, dir, "ckpt_rest", ExtractPipeline.run(remaining, delimiter = ""))
        .select(docIdFromUrl, col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),
    "compact_checkpoint" -> ((s, dir) => {
      // small-file maintenance: three separate commits compacted into ONE
      // batch; the oracle asserts content identity after the rewrite (the
      // batch-count / resume-to-zero structure is unit-pinned)
      val pages = Corpus.pagesCached(s, dir)
      val outDir = scratchOut(s, dir, "compact")
      val docId = element_at(split(col("url"), "/"), -1).cast("long")
      (0 until 3).foreach { r =>
        Checkpoint.commitWithData(
          ExtractPipeline.run(pages.where(docId % 3 === r), delimiter = ""),
          outDir)
      }
      Checkpoint.compact(s, outDir)
      Checkpoint.readExtracted(s, outDir)
        .select(docIdFromUrl, col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),
    "pdf_owner_password_error" -> ((s, dir) => {
      // owner-password-only documents: user auth fails with the empty
      // password, the reader reaches the reference's unimplemented
      // owner-authentication path (NotImplementedException,
      // Tokeniser.cs:810-840) — replicated as a STRUCTURED error row whose
      // exact shape (message, failure count, empty text, zero pages) the
      // oracle asserts verbatim
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)]
        .filter(_._1 % 2 == 0)
        .mapPartitions { it =>
          val buffers = new graft.pdf.WorkBuffers()
          it.map { case (id, t) =>
            val r = graft.pdf.PdfExtract.extract(Corpus.pdfOwnerOnlyFromText(t),
              contentDelimiter = "", buffers = buffers, captureFragments = false)
            (id, r.error.getOrElse(""), r.decodeFailures.toLong, r.text, r.pages.toLong)
          }
        }.toDF("doc_id", "error", "failures", "text", "n_pages")
        .orderBy("doc_id")
    }),
    "sql_pdf_extract" -> ((s, dir) => {
      // SQL surface: the whole parse stack as a scalar Catalyst expression
      graft.functions.GraftFunctions.register(s)
      Corpus.pagesCached(s, dir).createOrReplaceTempView("graft_pages")
      s.sql(
        """SELECT CAST(element_at(split(url, '/'), -1) AS BIGINT) AS doc_id,
          |       pdf_extract(html).kind AS kind,
          |       pdf_extract(html).text AS text
          |FROM graft_pages""".stripMargin).orderBy("doc_id")
    })
  )

  /** DuckDB mirror of [[graft.pipeline.Corpus.pdfExpectedText]]: given list
    * column `ch` of shown chunks (64-char slices, each already carrying the
    * content delimiter) and variant column `v` = (doc_id//2)%9, the expected
    * extraction. Variant 1 (Td/TD/T* before every chunk but the first)
    * joins all chunks with newline; variant 2 (encoded font) writes the
    * ligature markers 'e' / 't' / 'a' as CIDs whose ToUnicode bfchar
    * targets <00660066> / <006600660069> / <00660066006C> the engine packs
    * to ﬀ = chr(64256), ﬃ = chr(64259) and ﬄ = chr(64260) — the latter two
    * through the reference's separate 12-digit lookahead branch, ﬄ via the
    * uppercase-'C'-only tail arm (reference: Tokeniser.cs:2616-2644);
    * variant 5 (per-chunk Tm, per-content newline state) joins within each
    * 8-chunk page only; every other variant concatenates — they vary the
    * FILE layout (encryption, xref stream + ObjStm, /Prev chain, malformed
    * tolerances, linearized front-xref), not the operator stream. */
  private val pdfExpectedSql: String =
    """CASE
         WHEN v = 1 THEN array_to_string(ch, chr(10))
         WHEN v = 2 THEN replace(replace(replace(array_to_string(ch, ''), 'e', chr(64256)), 't', chr(64259)), 'a', chr(64260))
         WHEN v = 5 THEN array_to_string(list_transform(
             generate_series(1, CAST(ceil(len(ch) / 8.0) AS BIGINT)),
             p -> array_to_string(ch[(p-1)*8+1 : p*8], chr(10))), '')
         ELSE array_to_string(ch, '')
       END"""

  /** Chars ADDED to length(text) by the variant's injected newlines:
    * variant 1 adds chunks-1, variant 5 adds chunks-pages, PDFs otherwise 0
    * (and HTML rows 0). */
  private val pdfExtraCharsSql: String =
    // greatest(..., 0): an empty text has 0 chunks, and chunks-1 must not
    // go negative (the Scala twin yields "" there)
    """CASE WHEN doc_id % 2 = 0 AND (doc_id // 2) % 9 = 1
             THEN greatest((length(text) + 63) // 64 - 1, 0)
           WHEN doc_id % 2 = 0 AND (doc_id // 2) % 9 = 5
             THEN (length(text) + 63) // 64 - ((length(text) + 63) // 64 + 7) // 8
           ELSE 0 END"""

  def oracleSql: Map[String, String] = Map(
    "pdf_extract_roundtrip" ->
      s"""WITH d AS (SELECT doc_id, text, (doc_id // 2) % 9 AS v,
                            regexp_extract_all(text, '.{1,64}') AS ch
                     FROM documents WHERE doc_id % 2 = 0)
          SELECT doc_id, $pdfExpectedSql AS text FROM d ORDER BY doc_id""",
    // pdf_spans: the fixed-layout probe (Corpus.pdfSpanProbe) makes every
    // span's values a closed form of length(text): page i covers extracted
    // chars [512*i, min(len, 512*(i+1))) and its content payload sits at
    // the affine file address spanProbeSrcOffset(i) — so this gate hashes
    // the actual byte offsets, not just the span count
    "pdf_spans" ->
      s"""WITH d AS (SELECT doc_id, least(length(text), ${Corpus.SpanProbeMaxChars}) AS len
                     FROM documents WHERE length(text) > 0),
          s AS (SELECT doc_id, len,
                       unnest(range(CAST((len + 511) // 512 AS BIGINT))) AS i
                FROM d)
          SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
                 CAST(512 * i AS BIGINT) AS start_pos,
                 CAST(least(len, 512 * (i + 1)) AS BIGINT) AS end_pos,
                 CAST(${Corpus.spanProbeSrcOffset(0)} + ${Corpus.spanProbeSrcOffset(1) - Corpus.spanProbeSrcOffset(0)} * i AS BIGINT) AS src_offset,
                 CAST(5 * i + 5 AS BIGINT) AS src_line
          FROM s ORDER BY doc_id, span_idx""",
    // html_spans: block i covers words [20i+1, 20i+20]; extracted offsets
    // are cumulative block lengths + i newline separators; source offset =
    // 69 (prefix 66 + "<p>") + 8 per prior line ("<p></p>\n") + cumulative
    // text; line = 3 + i (2 prefix newlines). A lone block needs > 16 words
    // (NumWordsRules); with >= 2 blocks every block is kept (full blocks
    // have 20 > 16 words, the last one's predecessor has 20 > 4).
    "html_spans" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents
                    WHERE length(trim(text)) > 0 AND NOT regexp_matches(text, '[&<>]')),
         b AS (SELECT doc_id, ws, len(ws) AS nw,
                      unnest(range(CAST((len(ws) + 19) // 20 AS BIGINT))) AS i
               FROM d WHERE len(ws) > 16),
         t AS (SELECT doc_id, i,
                      length(array_to_string(ws[CAST(20*i + 1 AS INT):CAST(least(20*i + 20, nw) AS INT)], ' ')) AS blen
               FROM b),
         c AS (SELECT doc_id, i, blen,
                      COALESCE(SUM(blen) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
               FROM t)
         SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
                CAST(cum + i AS BIGINT) AS start_pos,
                CAST(cum + i + blen AS BIGINT) AS end_pos,
                CAST(69 + 8*i + cum AS BIGINT) AS src_offset,
                CAST(3 + i AS BIGINT) AS src_line,
                'block' AS kind
         FROM c ORDER BY doc_id, span_idx""",
    "html_extract_roundtrip" ->
      "SELECT doc_id, 'doc ' || doc_id AS title, text FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id",
    "pdf_extract_delim_roundtrip" ->
      s"""WITH d AS (SELECT doc_id, text, (doc_id // 2) % 9 AS v,
                            list_transform(regexp_extract_all(text, '.{1,64}'), c -> c || '|') AS ch
                     FROM documents WHERE doc_id % 2 = 0)
          SELECT doc_id, $pdfExpectedSql AS text FROM d ORDER BY doc_id""",
    // Recrawl.delta statuses restated from the arm rules (the fingerprints
    // themselves are the Spark side's concern — the oracle checks the
    // CLASSIFICATION; removal wins over the changed/added arms because the
    // %7 rows never enter the next snapshot)
    "crawl_delta" ->
      """WITH d AS (SELECT doc_id FROM documents),
         s AS (
           SELECT 'https://example.org/doc/' || doc_id AS url,
                  CASE WHEN doc_id % 7 = 0 THEN 'removed'
                       WHEN doc_id % 5 = 0 THEN 'changed'
                       ELSE 'unchanged' END AS status FROM d
           UNION ALL
           SELECT 'https://example.org/doc/new-' || doc_id, 'added'
           FROM d WHERE doc_id % 3 = 0)
         SELECT url, status FROM s ORDER BY url""",
    // Corpus.htmlCharsetProbe: four encodings of (text twice + the
    // non-ASCII marker) — expected text is encoding-independent
    "html_charset_roundtrip" ->
      "SELECT doc_id, text || ' ' || text || ' Ähnlich café für' AS text FROM documents ORDER BY doc_id",
    // mirror of Corpus.htmlLayoutFromText / htmlLayoutExpected: words 1-12
    // -> <p>, 13-22/23-32 -> "- " list items, 33+ -> "a | b" table rows of
    // two 10-word cells (list slices are 1-based inclusive in DuckDB)
    "html_layout_roundtrip" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
         parts AS (SELECT doc_id,
           array_to_string(ws[1:12], ' ') AS p,
           CASE WHEN len(ws) > 12 THEN '- ' || array_to_string(ws[13:22], ' ') END AS i1,
           CASE WHEN len(ws) > 22 THEN '- ' || array_to_string(ws[23:32], ' ') END AS i2,
           CASE WHEN len(ws) > 32 THEN
             array_to_string(list_transform(generate_series(1, CAST(ceil((len(ws) - 32) / 20.0) AS BIGINT)), r ->
               array_to_string(ws[33 + 20*(r-1) : 42 + 20*(r-1)], ' ') ||
               CASE WHEN len(ws) > 42 + 20*(r-1)
                    THEN ' | ' || array_to_string(ws[43 + 20*(r-1) : 52 + 20*(r-1)], ' ')
                    ELSE '' END), chr(10)) END AS tbl
           FROM d)
         SELECT doc_id, concat_ws(chr(10), p, i1, i2, tbl) AS text
         FROM parts ORDER BY doc_id""",
    // n_spans: one span per CONTENT STREAM with text. Variant 2 splits
    // pages of >4 chunks into two content streams (/Contents array form),
    // so its span count is 2 per full page plus 1-or-2 for the last page
    // depending on its chunk remainder; every other variant has one
    // content per page.
    "extract_pipeline_mixed" ->
      s"""WITH d AS (SELECT doc_id, text, lang, (doc_id // 2) % 9 AS v,
                (length(text) + 63) // 64 AS chunks,
                ((length(text) + 63) // 64 + 7) // 8 AS pages
              FROM documents)
         SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS kind,
         CAST(length(text) + $pdfExtraCharsSql AS BIGINT) AS n_chars,
         CAST(CASE WHEN doc_id % 2 = 0 THEN pages ELSE 1 END AS BIGINT) AS pages,
         CAST(CASE WHEN doc_id % 2 = 1 THEN 1
                   WHEN v = 2 THEN 2 * (pages - 1)
                        + (CASE WHEN chunks - 8 * (pages - 1) > 4 THEN 2 ELSE 1 END)
                   ELSE pages END AS BIGINT) AS n_spans,
         CAST(0 AS BIGINT) AS failures
         FROM d ORDER BY doc_id""",
    "extract_metrics_by_lang" ->
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(length(text) + $pdfExtraCharsSql) AS BIGINT) AS total_chars,
         CAST(0 AS BIGINT) AS total_failures
         FROM documents GROUP BY lang ORDER BY lang""",
    "resume_after_checkpoint" ->
      s"""SELECT doc_id, CAST(length(text) + $pdfExtraCharsSql AS BIGINT) AS n_chars
          FROM documents WHERE doc_id % 7 <> 0 ORDER BY doc_id""",
    // all three committed thirds must survive the rewrite byte-for-byte
    "compact_checkpoint" ->
      s"""SELECT doc_id, CAST(length(text) + $pdfExtraCharsSql AS BIGINT) AS n_chars
          FROM documents ORDER BY doc_id""",
    "sql_pdf_extract" ->
      s"""WITH d AS (SELECT doc_id, text, (doc_id // 2) % 9 AS v,
                            regexp_extract_all(text, '.{1,64}') AS ch
                     FROM documents)
          SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS kind,
          CASE WHEN doc_id % 2 = 0 THEN $pdfExpectedSql ELSE text END AS text
          FROM d ORDER BY doc_id""",
    "pdf_owner_password_error" ->
      """SELECT doc_id,
           'UnsupportedOperationException: owner-password authentication is not implemented' AS error,
           CAST(1 AS BIGINT) AS failures, '' AS text, CAST(0 AS BIGINT) AS n_pages
         FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id"""
  )
}
