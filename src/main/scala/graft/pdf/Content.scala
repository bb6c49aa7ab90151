package graft.pdf

import scala.collection.mutable

/** Text assembly for one content stream: the `BT..ET` state machine whose
  * output is the byte-identical invariant surface
  * (reference: PdfParser/PdfContent.cs:39-203).
  *
  * The assembly rules (see SURVEY.md §2.2):
  *  - each show op (`Tj`/`TJ`/`'`/`"`) appends `decoded + contentDelimiter`;
  *  - newlines come ONLY from `Td`/`TD`/`T*` and a ty-changing `Tm`, as "\n"
  *    (the reference appends `Environment.NewLine`; canonicalised);
  *  - `Tm` parses its 4 matrix ints with the '.'-stopping int reader —
  *    reproduced bug-for-bug (PdfContent.cs:150-153);
  *  - kerning numbers in `TJ` arrays are discarded;
  *  - errors are captured, never thrown (PdfContent.cs:191-202).
  */
final class PdfContent(tk: PdfTokeniser, contentsDict: DictTok, fonts: collection.Map[String, PdfFont]) {
  var pdfFontName: String = null
  // Show-op text appends straight into the tokeniser's reused document-level
  // builder (the reference's per-content `Text +=` string concat is O(n^2)
  // AND copies each content's text again at document assembly; here content
  // boundaries are just [textStart, textEnd) offsets into the shared buffer).
  // `hasText` tracks the reference's null-vs-empty distinction, observable
  // in the Tm newline rule — per content, exactly like the reference.
  private val textSb = tk.docText
  /** [start, end) of this content's text in the document builder. */
  val textStart: Int = textSb.length
  private var textEndIdx: Int = textStart
  private var hasText = false
  def textEnd: Int = textEndIdx
  /** Per-content text (reference `PdfContent.Text`, null when no show op
    * ran). Copies a substring — debug/inspection surface; the bulk pipeline
    * reads the document builder once instead. Valid until the tokeniser's
    * buffers are reused for the next document. */
  def text: String = if (hasText) textSb.substring(textStart, textEndIdx) else null
  val textFragments: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var exception: String = null
  var error: String = contentsDict.streamLengthProblem

  /** Byte offset of this content's stream payload in the source document. */
  def srcOffset: Int = contentsDict.streamStartIndex

  contentsDict.pdfObject = this

  {
    var lastLineOffset: java.math.BigDecimal = null
    try {
      contentsDict.loadStream()
      var endOfStream = false
      while (!endOfStream) {
        // find BT, skipping inline images and capturing (unused) clip rects
        var opCode: String = null
        var foundBT = false
        while (!foundBT && !endOfStream) {
          opCode = tk.getStreamOpCode()
          if (opCode == null) endOfStream = true
          else if (opCode == "BI") tk.contentStreamSkipInlineImage()
          else if (opCode == "re") tk.contentStreamGetClippingRegion()
          else if (opCode == "BT") foundBT = true
        }
        if (!endOfStream) {
          tk.markStreamStartOfTextFragment()
          var font: PdfFont = null
          var insideText = true
          while (insideText) {
            opCode = tk.getStreamOpCode()
            if (opCode == null) {
              error = orEmpty(error) + "Error Content stream: stream end found but 'ET' still missing." + "\n"
              error += tk.showStreamContentAtIndex()
              insideText = false
              endOfStream = true
            } else {
              var newText: CharSequence = null
              var show = false
              opCode match {
                case "'" =>
                  tk.startStreamArgumentReading()
                  newText = tk.getStreamStringScratch(font)
                  tk.endStreamArgumentReading()
                  show = true
                case "\"" =>
                  tk.startStreamArgumentReading()
                  tk.skipStreamArgument()
                  tk.skipStreamArgument()
                  newText = tk.getStreamStringScratch(font)
                  tk.endStreamArgumentReading()
                  show = true
                case "Tj" =>
                  tk.startStreamArgumentReading()
                  newText = tk.getStreamStringScratch(font)
                  tk.endStreamArgumentReading()
                  show = true
                case "TJ" =>
                  tk.startStreamArgumentReading()
                  newText = tk.getStreamArrayStringScratch(font)
                  tk.endStreamArgumentReading()
                  show = true
                case "Tf" =>
                  tk.startStreamArgumentReading()
                  pdfFontName = tk.getStreamName()
                  fonts.get(pdfFontName) match {
                    case Some(f) => font = f
                    case None =>
                      error = orEmpty(error) + s"Could not find font '$pdfFontName'." + "\n"
                      font = null
                  }
                  tk.endStreamArgumentReading()
                case "Td" | "TD" | "T*" =>
                  textSb.append('\n'); hasText = true
                case "Tm" =>
                  tk.startStreamArgumentReading()
                  tk.getStreamInt(); tk.getStreamInt(); tk.getStreamInt(); tk.getStreamInt()
                  tk.getStreamNumber()
                  val lineOffset = tk.getStreamNumber()
                  if (lastLineOffset == null || lastLineOffset.compareTo(lineOffset) != 0) {
                    lastLineOffset = lineOffset
                    if (hasText) textSb.append('\n')
                  }
                  tk.endStreamArgumentReading()
                case "ET" =>
                  if (tk.captureFragments) textFragments += tk.getStreamTextFragment()
                  insideText = false
                case _ => // all other operators skipped
              }
              if (show) { textSb.append(newText).append(tk.contentDelimiter); hasText = true }
            }
          }
        }
      }
    } catch {
      case e: Exception =>
        val detail = PdfExtract.errorText(e)
        exception = e match {
          case _: PdfStreamException | _: PdfException => detail
          case _ => detail + "\n" + tk.showStreamContentAtIndex()
        }
    }
    textEndIdx = textSb.length
  }

  private def orEmpty(s: String): String = if (s == null) "" else s
}

/** Per-page fonts + contents (reference: PdfParser/PdfPage.cs:28-84).
  * Font objects are cached on their token so shared fonts parse once. */
final class PdfPage(tk: PdfTokeniser, pageToken: DictTok) {
  val fonts: mutable.LinkedHashMap[String, PdfFont] = mutable.LinkedHashMap.empty
  val contents: mutable.ArrayBuffer[PdfContent] = mutable.ArrayBuffer.empty
  var exception: String = null

  pageToken.pdfObject = this

  try {
    pageToken.getDictionary("Resources").foreach { resources =>
      resources.getDictionary("Font").foreach { fontsDict =>
        fontsDict.keys.foreach { fontName =>
          val fontToken = fontsDict(fontName)
          fontToken.pdfObject match {
            case f: PdfFont => fonts(fontName) = f
            case _          => fonts(fontName) = new PdfFont(fontToken)
          }
        }
      }
    }
    pageToken.get("Contents").foreach {
      case arr: ArrTok =>
        arr.iterator.foreach { contentToken =>
          contents += new PdfContent(tk, contentToken.asInstanceOf[DictTok], fonts)
        }
      case dict: DictTok =>
        contents += new PdfContent(tk, dict, fonts)
      case _ =>
        throw new UnsupportedOperationException("page /Contents must be a dictionary or an array")
    }
  } catch {
    case e: Exception =>
      val detail = PdfExtract.errorText(e)
      exception = e match {
        case _: PdfStreamException | _: PdfException => detail
        case _ => detail + "\n" + tk.showStreamContentAtIndex()
      }
  }
}
