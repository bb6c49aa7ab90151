package graft.pdf

/** Source line bookkeeping for span capture: the line rules of the viewer
  * library's `TextStore` (reference: TextStoreLib/TextStore.cs:17-144),
  * kept only as far as [[lineOfByteOffset]] needs them.
  *
  * Reference semantics reproduced exactly:
  *  - CR, LF and CRLF all terminate a line (reference: TextStore.cs:104-125),
  *    and for CRLF the following LF is skipped with the line's byte offset
  *    bumped past it (reference: TextStore.cs:108-113);
  *  - the first line starts at offset 0 (reference: TextStore.cs:68-74).
  *
  * `initialSize` is the expected number of source bytes; it only sizes the
  * line table.
  */
final class TextStore(initialSize: Int = 1000) {
  require(initialSize > 0, s"Size $initialSize must be greater 0")

  private var lineCount = 1
  /** Source byte offset where line i starts (reference: TextStore.cs:138-143). */
  private var byteOffsets = new Array[Int](math.max(2, initialSize / 40))

  private def ensureLines(): Unit =
    if (lineCount >= byteOffsets.length)
      byteOffsets = java.util.Arrays.copyOf(byteOffsets, byteOffsets.length * 2)

  /** Append raw pdf bytes starting at source offset `byteOffsetStart`
    * (reference: TextStore.cs:81-144). */
  def append(pdfBytes: Array[Byte], byteOffsetStart: Int): Unit = {
    var isCarriageReturn = false
    var i = 0
    while (i < pdfBytes.length) {
      val b = pdfBytes(i)
      if (isCarriageReturn && b == 0x0a) {
        // skip linefeed after carriage return; line offset moves past it
        isCarriageReturn = false
        byteOffsets(lineCount - 1) += 1
      } else {
        isCarriageReturn = b == 0x0d
        if (isCarriageReturn || b == 0x0a) {
          ensureLines()
          byteOffsets(lineCount) = byteOffsetStart + i + 1
          lineCount += 1
        }
      }
      i += 1
    }
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
