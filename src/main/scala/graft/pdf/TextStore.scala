package graft.pdf

/** Byte→char text buffer with line bookkeeping — the S27 completion: a
  * faithful port of the viewer library's `TextStore`
  * (reference: TextStoreLib/TextStore.cs:17-144).
  *
  * Reference semantics reproduced exactly:
  *  - every byte maps through the `PdfEncoding` display table
  *    (reference: PdfParser/PdfEncodings.cs:1083-1116); an unmapped byte
  *    (0xFFFF slot) renders as its hex value in single quotes, e.g. `'9c'`
  *    (reference: TextStore.cs:128-136);
  *  - CR, LF and CRLF all terminate a line; the terminator is stored as ONE
  *    `'\r'` char (reference: TextStore.cs:104-125), and for CRLF the
  *    following LF is skipped with the line's byte offset bumped past it
  *    (reference: TextStore.cs:108-113);
  *  - `lineStarts(i)` / `lineByteOffsets(i)` give the char index and source
  *    byte offset where line i starts, with one sentinel entry past the
  *    last line (reference: TextStore.cs:138-143);
  *  - `reset()` leaves one open line at offset 0 (reference: TextStore.cs:68-74).
  */
final class TextStore(initialSize: Int = 1000) {
  require(initialSize > 0, s"Size $initialSize must be greater 0")

  private var chars = new Array[Char](initialSize)
  private var charsCount = 0
  private var lineCount = 1
  private var starts = new Array[Int](math.max(2, initialSize / 40))
  private var byteOffsets = new Array[Int](math.max(2, initialSize / 40))

  def linesCount: Int = lineCount
  def lineStarts(i: Int): Int = starts(i)
  def lineByteOffsets(i: Int): Int = byteOffsets(i)
  def text: String = new String(chars, 0, charsCount)

  reset()

  def reset(): Unit = {
    charsCount = 0
    lineCount = 1
    starts(0) = 0
    byteOffsets(0) = 0
  }

  /** Line content without its '\r' terminator (reference: TextStore.cs:32-45). */
  def apply(line: Int): String = {
    require(line >= 0, s"Index '$line' must be greater equal 0.")
    require(line < lineCount, s"Index '$line' must be smaller than LinesCount $lineCount.")
    val start = starts(line)
    var end = starts(line + 1)
    if (start == end) "" // very last line is empty, has no CR
    else {
      end -= 1 // remove CR at end
      new String(chars, start, end - start)
    }
  }

  private def ensureChars(extra: Int): Unit =
    if (charsCount + extra > chars.length)
      chars = java.util.Arrays.copyOf(chars, math.max(chars.length * 2, charsCount + extra))

  private def ensureLines(): Unit =
    if (lineCount >= starts.length) {
      starts = java.util.Arrays.copyOf(starts, starts.length * 2)
      byteOffsets = java.util.Arrays.copyOf(byteOffsets, byteOffsets.length * 2)
    }

  /** Append raw pdf bytes starting at source offset `byteOffsetStart`
    * (reference: TextStore.cs:81-144). */
  def append(pdfBytes: Array[Byte], byteOffsetStart: Int): Unit =
    append(pdfBytes, 0, pdfBytes.length, byteOffsetStart)

  def append(pdfBytes: Array[Byte], from: Int, len: Int, byteOffsetStart: Int): Unit = {
    var isCarriageReturn = false
    var i = 0
    while (i < len) {
      val b = pdfBytes(from + i) & 0xff
      ensureChars(10)
      if (isCarriageReturn && b == 0x0a) {
        // skip linefeed after carriage return; line offset moves past it
        isCarriageReturn = false
        byteOffsets(lineCount - 1) += 1
      } else {
        isCarriageReturn = b == 0x0d
        if (isCarriageReturn || b == 0x0a) {
          chars(charsCount) = '\r' // single end-of-line mark
          charsCount += 1
          ensureLines()
          starts(lineCount) = charsCount
          byteOffsets(lineCount) = byteOffsetStart + i + 1
          lineCount += 1
        } else {
          val c = Encodings.PdfEncoding(b)
          if (c == 0xffff.toChar) {
            chars(charsCount) = '\''; charsCount += 1
            Integer.toHexString(b).foreach { h => chars(charsCount) = h; charsCount += 1 }
            chars(charsCount) = '\''; charsCount += 1
          } else {
            chars(charsCount) = c
            charsCount += 1
          }
        }
      }
      i += 1
    }
    ensureLines()
    starts(lineCount) = charsCount // sentinel (reference: TextStore.cs:141-142)
    byteOffsets(lineCount) = byteOffsetStart + len
  }

  /** 1-based line number containing source byte `offset` — binary search
    * over the per-line byte offsets (the viewer's byte→line lookup). */
  def lineOfByteOffset(offset: Int): Int = {
    var lo = 0
    var hi = lineCount - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (byteOffsets(mid) <= offset) lo = mid else hi = mid - 1
    }
    lo + 1
  }
}
