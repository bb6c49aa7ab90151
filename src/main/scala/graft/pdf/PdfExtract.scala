package graft.pdf

import scala.collection.mutable

/** One extracted character-span: [start,end) in `text`, the byte offset of
  * the producing content stream in the source document, and a kind tag
  * (span bookkeeping modeled on the reference's TextStore line→byte-offset
  * mapping; reference: TextStoreLib/TextStore.cs:81-144). `srcLine` is the
  * 1-based source line of `srcOffset` under the reference's line rules
  * (CR/LF/CRLF each one terminator — see [[TextStore]]); -1 unless line
  * capture was requested. */
final case class TextSpan(start: Int, end: Int, srcOffset: Int, kind: String, srcLine: Int = -1)

/** Document-level extraction result. `text` is the byte-identical surface:
  * pages in tree order → contents in array order → each content's assembled
  * text (reference: PdfParser/PdfContent.cs:186, browser concatenation).
  * `nChars` equals `text.length`. */
final case class ExtractResult(
    text: String,
    nChars: Int,
    fragments: Seq[String],
    spans: Seq[TextSpan],
    pages: Int,
    decodeFailures: Int,
    error: Option[String])

/** E1 façade: the reference's `new PdfParser(bytes, …)` entry point as a pure
  * function (reference: PdfParser/PdfParser.cs:92-106). Per-document parse
  * errors are captured into the result, never thrown — one bad document must
  * not fail a 10^12-row job. */
object PdfExtract {

  /** The `error` text of a caught exception: `<SimpleName>: <message>`.
    * Once a throw site is compiled, HotSpot may throw the implicit JVM
    * exceptions matched below as preallocated instances without a message
    * (`OmitStackTraceInFastThrow`), so for them the message is always
    * dropped: the same document then gets the same text whatever the JIT
    * state. */
  def errorText(e: Throwable): String = e match {
    case _: NullPointerException | _: ArithmeticException | _: ArrayIndexOutOfBoundsException |
        _: ArrayStoreException | _: ClassCastException => e.getClass.getSimpleName + ": "
    case _ => e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")
  }

  def isPdf(bytes: Array[Byte]): Boolean = {
    if (bytes == null || bytes.length < 8) return false
    if (startsWithHeader(bytes, 0)) return true
    // FPDF tolerance: header within the first 2000 bytes (reference: Tokeniser.cs:190-200)
    val limit = math.min(2000, bytes.length - 8)
    var i = 1
    while (i < limit) {
      if (startsWithHeader(bytes, i)) return true
      i += 1
    }
    false
  }

  private def startsWithHeader(b: Array[Byte], i: Int): Boolean =
    b(i) == '%' && b(i + 1) == 'P' && b(i + 2) == 'D' && b(i + 3) == 'F' && b(i + 4) == '-' &&
      b(i + 5) == '1' && b(i + 6) == '.'

  def extract(
      bytes: Array[Byte],
      password: String = "",
      contentDelimiter: String = "|",
      buffers: WorkBuffers = new WorkBuffers(),
      captureFragments: Boolean = true,
      /** Compute each span's 1-based source line ([[TextStore]] semantics);
        * costs one extra pass over the document bytes, so the bulk pipeline
        * leaves it off. */
      captureLines: Boolean = false): ExtractResult = {
    val tk = new PdfTokeniser(bytes, password, contentDelimiter, buffers, captureFragments)
    try {
      tk.verifyFileHeader()
      tk.findPages()

      // document text already accumulated in the tokeniser's reused builder
      // during page construction (pages in tree order → contents in array
      // order); contents carry their [start,end) offsets for the spans
      val fragments = mutable.ArrayBuffer.empty[String]
      val spans = mutable.ArrayBuffer.empty[TextSpan]
      val errors = new StringBuilder
      var decodeFailures = 0
      val lineStore: TextStore =
        if (captureLines) { val ts = new TextStore(bytes.length + 16); ts.append(bytes, 0); ts }
        else null

      tk.pageList.foreach { page =>
        if (page.exception != null) {
          decodeFailures += 1
          errors.append(page.exception).append('\n')
        }
        page.fonts.valuesIterator.foreach { f =>
          if (f.exception != null) decodeFailures += 1
        }
        page.contents.foreach { content =>
          fragments ++= content.textFragments
          if (content.textEnd > content.textStart)
            spans += TextSpan(content.textStart, content.textEnd, content.srcOffset, "content",
              if (lineStore != null && content.srcOffset >= 0)
                lineStore.lineOfByteOffset(content.srcOffset)
              else -1)
          if (content.exception != null) {
            decodeFailures += 1
            errors.append(content.exception).append('\n')
          }
          if (content.error != null) errors.append(content.error).append('\n')
        }
      }
      ExtractResult(
        text = tk.docText.toString,
        nChars = tk.docText.length,
        fragments = fragments.toSeq,
        spans = spans.toSeq,
        pages = tk.pageList.size,
        decodeFailures = decodeFailures,
        error = if (errors.isEmpty) None else Some(errors.toString))
    } catch {
      case e: Throwable =>
        val msg = e match {
          case pe: PdfException       => "PdfException: " + pe.shortMessage
          case pe: PdfStreamException => "PdfStreamException: " + pe.shortMessage
          case other                  => errorText(other)
        }
        ExtractResult(
          text = "",
          nChars = 0,
          fragments = Nil,
          spans = Nil,
          pages = 0,
          decodeFailures = 1,
          error = Some(msg))
    }
  }
}
