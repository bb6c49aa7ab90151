package perfbench

import graft.html.Boilerplate
import graft.pdf.{PdfExtract, PdfTokeniser, WorkBuffers}
import graft.pipeline.{Corpus, ExtractPipeline, PageRow}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import perfbench.PerfBench.median
import scala.collection.mutable

/** In-process timing of the public parse functions, outside Spark, over a
  * sample of the workload's own payloads. Each pass walks the sample in
  * order; per-document figures are medians over passes. */
object ParseProbe {
  private val threadBean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }

  /** Runs passes over `rows` until `budgetS` seconds are spent (at least
    * three), then the nproc-thread throughput pass. Returns per-layer
    * metrics keyed by their benchmark names. */
  def run(rows: IndexedSeq[PageRow], ids: IndexedSeq[Long], threads: Int, budgetS: Double): Map[String, Double] = {
    val n = rows.size
    val buffers = new WorkBuffers()
    val isPdfNs = Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val findNs = Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val extractNs = Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val decodeNs = Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val rowNs = Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val alloc = Array.fill(n)(0L)
    val pdf = Array.tabulate(n)(i => PdfExtract.isPdf(rows(i).html))
    var sink = 0L
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    var pass = 0
    while (pass < 3 || System.nanoTime() < deadline) {
      var i = 0
      while (i < n) {
        val p = rows(i).html
        val t0 = System.nanoTime()
        val isPdf = PdfExtract.isPdf(p)
        val t1 = System.nanoTime()
        isPdfNs(i) += (t1 - t0)
        if (isPdf) {
          val tk = new PdfTokeniser(p, "", "", buffers, false)
          tk.verifyFileHeader()
          tk.findPages()
          val t2 = System.nanoTime()
          findNs(i) += (t2 - t1)
          val a0 = threadBean.getCurrentThreadAllocatedBytes
          val t3 = System.nanoTime()
          sink += PdfExtract.extract(p, contentDelimiter = "", buffers = buffers, captureFragments = false).nChars
          val t4 = System.nanoTime()
          alloc(i) = threadBean.getCurrentThreadAllocatedBytes - a0
          extractNs(i) += (t4 - t3)
        } else {
          val a0 = threadBean.getCurrentThreadAllocatedBytes
          val t2 = System.nanoTime()
          val html = Boilerplate.decode(p)
          val t3 = System.nanoTime()
          sink += Boilerplate.extract(html).text.length
          val t4 = System.nanoTime()
          alloc(i) = threadBean.getCurrentThreadAllocatedBytes - a0
          decodeNs(i) += (t3 - t2)
          extractNs(i) += (t4 - t3)
        }
        val t5 = System.nanoTime()
        sink += ExtractPipeline.extractOne(rows(i).url, p, rows(i).lang, "", buffers).n_chars
        rowNs(i) += (System.nanoTime() - t5)
        i += 1
      }
      pass += 1
    }
    val med = (a: Array[mutable.ArrayBuffer[Double]], i: Int) => median(a(i).toSeq)
    val pdfIdx = (0 until n).filter(pdf(_))
    val htmlIdx = (0 until n).filterNot(pdf(_))
    def usPerDoc(idx: Seq[Int], f: Int => Double): Double =
      if (idx.isEmpty) 0.0 else idx.map(f).sum / idx.size / 1e3
    // extractOne minus the extractor it routes to: row assembly + routing
    val extractorNs = (i: Int) =>
      med(isPdfNs, i) + (if (pdf(i)) med(extractNs, i) else med(decodeNs, i) + med(extractNs, i))
    val out = mutable.LinkedHashMap[String, Double](
      "pdf.PdfExtract.isPdf.us_per_doc" -> usPerDoc(0 until n, med(isPdfNs, _)),
      "pdf.PdfTokeniser.findPages.us_per_doc" -> usPerDoc(pdfIdx, med(findNs, _)),
      "pdf.PdfExtract.assemble.us_per_doc" ->
        usPerDoc(pdfIdx, i => math.max(0.0, med(extractNs, i) - med(findNs, i))),
      "pdf.doc_ms.p50" -> pct(pdfIdx.map(med(extractNs, _) / 1e6), 0.50),
      "pdf.doc_ms.p99" -> pct(pdfIdx.map(med(extractNs, _) / 1e6), 0.99),
      "pdf.doc_ms.max" -> pct(pdfIdx.map(med(extractNs, _) / 1e6), 1.0),
      "pdf.alloc_kb_per_doc" -> (if (pdfIdx.isEmpty) 0.0 else pdfIdx.map(alloc(_)).sum / 1024.0 / pdfIdx.size),
      "html.Boilerplate.decode.us_per_doc" -> usPerDoc(htmlIdx, med(decodeNs, _)),
      "html.Boilerplate.extract.us_per_doc" -> usPerDoc(htmlIdx, med(extractNs, _)),
      "html.doc_ms.p99" -> pct(htmlIdx.map(i => (med(decodeNs, i) + med(extractNs, i)) / 1e6), 0.99),
      "html.alloc_kb_per_doc" -> (if (htmlIdx.isEmpty) 0.0 else htmlIdx.map(alloc(_)).sum / 1024.0 / htmlIdx.size),
      "pipeline.ExtractPipeline.extractOne.row_us_per_doc" ->
        usPerDoc(0 until n, i => math.max(0.0, med(rowNs, i) - extractorNs(i))))
    (0 until Corpus.NumPdfVariants).foreach { v =>
      out(s"pdf.PdfTokeniser.findPages.v$v.us_per_doc") =
        usPerDoc(pdfIdx.filter(i => Corpus.pdfVariant(ids(i)) == v), med(findNs, _))
    }
    out("parse.docs_per_s_nproc") = parallelDocsPerS(rows, threads)
    if (sink == 42) println() // keeps the parse results live
    out.toMap
  }

  /** Docs/s of `extractOne` over the sample on `threads` threads, no Spark:
    * the best of three passes. */
  private def parallelDocsPerS(rows: IndexedSeq[PageRow], threads: Int): Double =
    (1 to 3).map(_ => rows.size / parallelPass(rows, threads)).max

  /** Seconds of one pass of `extractOne` over `rows` on `threads` threads. */
  private def parallelPass(rows: IndexedSeq[PageRow], threads: Int): Double = {
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val ts = Seq.fill(threads)(new Thread(() => {
      val b = new WorkBuffers()
      var i = next.getAndIncrement()
      while (i < rows.size) {
        ExtractPipeline.extractOne(rows(i).url, rows(i).html, rows(i).lang, "", b)
        i = next.getAndIncrement()
      }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
