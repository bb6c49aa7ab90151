package graft.pipeline

import graft.html.Boilerplate
import graft.pdf.{PdfExtract, WorkBuffers}
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The extraction pipeline: classify each page payload (PDF header sniff per
  * Tokeniser.cs:180-209 vs everything-else-is-HTML), route to the matching
  * per-row pure extractor inside ONE `mapPartitions`, and emit typed output
  * rows with captured errors and span offsets.
  *
  * Scale design (100 TB / 1000 executors):
  *  - the transform is a narrow map straight off the scan splits — zero
  *    shuffles, so scan → extract → write is one stage ([[spread]] decides);
  *  - skew is bounded by the scan, not by a repartition: parquet row groups
  *    are byte-bounded (`parquet.block.size`) and Spark packs them into
  *    splits of at most `spark.sql.files.maxPartitionBytes`, which free
  *    cores pull as they finish. A hash repartition would move every
  *    payload byte through a shuffle first, and its fixed partition count
  *    makes partitions grow with the input. Only a table with fewer row
  *    groups than cores (one small file, say) is hash-spread first, since
  *    one task reads a whole row group and the other cores would idle;
  *  - per-partition buffer reuse mirrors the reference's explicit
  *    multi-file-loop allocation reuse (Tokeniser.cs:141-170): one
  *    Inflater/StringBuilder/work buffer per partition, not per row;
  *  - only (url, html, lang) reach the transform so the scan prunes the
  *    wide text column;
  *  - `Main` runs the transform inside the commit's write tasks
  *    ([[extractRows]]), on the scan's rows and with hand-built output
  *    rows, so no encoder code is generated; [[run]] is the typed Dataset
  *    form of the same transform.
  */
object ExtractPipeline {

  /** Pure per-row extraction — also usable outside Spark; the ONE place
    * payload routing and error capture live. `captureLines` adds each
    * PDF span's 1-based source line (TextStore semantics) at the cost of one
    * extra pass over the document bytes; off in the bulk path. */
  def extractOne(url: String, payload: Array[Byte], lang: String,
      delimiter: String, buffers: WorkBuffers,
      captureLines: Boolean = false): ExtractedDoc = {
    val nBytes = if (payload == null) 0L else payload.length.toLong
    if (payload == null || payload.isEmpty) {
      ExtractedDoc(url, "empty", "", "", Nil, 0, 0, 1, "empty payload", lang, nBytes)
    } else if (PdfExtract.isPdf(payload)) {
      // fragments are a debugging surface; the bulk pipeline skips the copy
      val r = PdfExtract.extract(payload, contentDelimiter = delimiter,
        buffers = buffers, captureFragments = false, captureLines = captureLines)
      ExtractedDoc(url, "pdf", r.text, "",
        r.spans.map(s => SpanRow(s.start, s.end, s.srcOffset, s.kind, s.srcLine)),
        r.pages, r.nChars, r.decodeFailures, r.error.getOrElse(""), lang, nBytes)
    } else {
      try {
        val html = Boilerplate.decode(payload)
        val r = Boilerplate.extract(html)
        val nls = if (captureLines) Boilerplate.newlinePositions(html) else null
        ExtractedDoc(url, "html", r.text, r.title,
          r.spans.map(s => SpanRow(s.start, s.end, s.srcOffset, s.kind,
            if (nls != null) Boilerplate.lineOf(nls, s.srcOffset) else -1)),
          1, r.text.length, 0, "", lang, nBytes)
      } catch {
        case e: Exception =>
          ExtractedDoc(url, "html", "", "", Nil, 1, 0, 1, PdfExtract.errorText(e), lang, nBytes)
      }
    }
  }

  /** `ExtractedDoc`'s schema, as its product encoder derives it; the rows
    * [[toRow]] builds have it. */
  val DocSchema: StructType = {
    def int(name: String) = StructField(name, IntegerType, nullable = false)
    val span = StructType(Seq(int("start"), int("end"), int("src_offset"),
      StructField("kind", StringType), int("src_line")))
    StructType(Seq(StructField("url", StringType), StructField("kind", StringType),
      StructField("text", StringType), StructField("title", StringType),
      StructField("spans", ArrayType(span)), int("pages"), int("n_chars"), int("decode_failures"),
      StructField("error", StringType), StructField("lang", StringType),
      StructField("html_bytes", LongType, nullable = false)))
  }

  /** `d` as a row of [[DocSchema]], built by hand: strings as `UTF8String`,
    * spans as an array of span rows. No serializer is generated for it. */
  private[pipeline] def toRow(d: ExtractedDoc): InternalRow = {
    def utf8(s: String) = UTF8String.fromString(s)
    val spans = d.spans.iterator.map(s => new GenericInternalRow(
      Array[Any](s.start, s.end, s.src_offset, utf8(s.kind), s.src_line)): Any).toArray
    new GenericInternalRow(Array[Any](utf8(d.url), utf8(d.kind), utf8(d.text), utf8(d.title),
      new GenericArrayData(spans), d.pages, d.n_chars, d.decode_failures, utf8(d.error),
      utf8(d.lang), d.html_bytes))
  }

  /** The encoder-free extraction that `Main` commits: the plan of `pages`'
    * (url, html, lang), and per write task [[extractOne]] over its rows,
    * each turned into a [[DocSchema]] row by [[toRow]]. Neither an
    * `ExtractInput` deserializer nor an `ExtractedDoc` serializer is
    * generated, so a submit compiles only its scan. */
  def extractRows(pages: Dataset[PageRow], delimiter: String = ""): Checkpoint.Rows =
    Checkpoint.Rows(pages.select("url", "html", "lang").queryExecution, DocSchema, { it =>
      val buffers = new WorkBuffers()
      def str(s: UTF8String) = if (s == null) null else s.toString
      it.map(r => toRow(extractOne(str(r.getUTF8String(0)), r.getBinary(1),
        str(r.getUTF8String(2)), delimiter, buffers)))
    })

  /** Column-pruned, buffer-reusing extraction transform, as a typed
    * Dataset: tests, gates and benchmarks read it; `Main` commits the same
    * rows through [[extractRows]]. */
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

  /** `pages` as extraction should consume them, judged by the parquet
    * table `scanned` they are read from. When `scanned` has at least one row
    * group per core, `pages` is returned as is and extraction runs straight
    * off the scan splits. With fewer row groups, the scan could keep only
    * that many cores busy, so the rows are first spread over
    * `2 × defaultParallelism` partitions by a hash of the url. A source
    * that lists no input files (a DataSource V2 table) counts as having no
    * row groups and is spread. */
  def spread(pages: Dataset[PageRow], scanned: Dataset[_]): Dataset[PageRow] = {
    val cores = pages.sparkSession.sparkContext.defaultParallelism
    if (rowGroups(scanned, cores) >= cores) pages
    // repartition on the 64-bit url hash itself: HashPartitioning re-hashes
    // the expression value, so pre-bucketing it with pmod would funnel the
    // bucket values through a second hash and collide them
    else pages.repartition(2 * cores, xxhash64(col("url")))
  }

  /** Parquet row groups across `table`'s input files, read from the file
    * footers on the driver; counting stops once it reaches `enough`. The
    * static footer read costs about 1 ms a file on a local disk, where
    * opening a `ParquetFileReader` costs about 17 ms. */
  private[pipeline] def rowGroups(table: Dataset[_], enough: Int): Int = {
    val conf = table.sparkSession.sparkContext.hadoopConfiguration
    val files = table.inputFiles.iterator
    var n = 0
    while (n < enough && files.hasNext) {
      val file = HadoopInputFile.fromPath(new Path(files.next()), conf)
      n += ParquetFileReader.readFooter(file, ParquetMetadataConverter.NO_FILTER).getBlocks.size
    }
    n
  }
}
