package graft.pdf

import scala.collection.mutable

object PdfFontType extends Enumeration {
  val None0, Type0, Type1, MMType1, Type3, TrueType, CIDFontType0, CIDFontType2 = Value
  /** reference: PdfParser/PdfFontType.cs:38-49 */
  def fromName(s: String): Value = s match {
    case "Type0"        => Type0
    case "Type1"        => Type1
    case "MMType1"      => MMType1
    case "Type3"        => Type3
    case "TrueType"     => TrueType
    case "CIDFontType0" => CIDFontType0
    case "CIDFontType2" => CIDFontType2
    case _              => None0
  }
}

/** Font decode setup: Subtype, base-encoding selection, /Differences overlay,
  * /ToUnicode CMap overlay — all failure modes captured in `exception`, never
  * thrown out (reference: PdfParser/PdfFont.cs:30-126).
  *
  * Quirks reproduced deliberately:
  *  - only Type1 seeds a StandardEncoding table (PdfFont.cs:56-58);
  *  - a /Differences glyph name missing from the Adobe map skips TWO slots —
  *    the reference's `Encoding8Bit![charIndex++]` bumps the index before the
  *    lookup throws, and its catch bumps again (PdfFont.cs:82-90);
  *  - /Differences with no base table silently drops every named glyph the
  *    same double-bump way, while a `uniXXXX` entry rethrows and kills the
  *    font (PdfFont.cs:71-78);
  *  - the local shadowing bug leaves the `EncodingName` field null
  *    (PdfFont.cs:101).
  */
final class PdfFont(token: PdfTok) {
  val objectId: Option[ObjectId] = token.objectId
  var fontType: PdfFontType.Value = PdfFontType.None0
  var baseFont: String = null
  val encodingName: String = null
  var isIdentity: Boolean = false
  var encoding8Bit: Array[Char] = null
  var toUnicodeHeader: String = null
  var fontDescriptor: PdfTok = null
  var cMap: mutable.TreeMap[Int, Char] = null
  var exception: String = null

  token.pdfObject = this

  try {
    val dict = token.asInstanceOf[DictTok]
    dict.getName("Subtype").foreach { subtype =>
      fontType = PdfFontType.fromName(subtype)
      if (fontType == PdfFontType.Type1) encoding8Bit = Encodings.Standard.clone()
    }
    dict.getName("BaseFont").foreach(baseFont = _)

    dict.get("Encoding").foreach {
      case encodingDict: DictTok =>
        encodingDict.getArray("Differences").foreach { differences =>
          var charIndex = Int.MinValue
          differences.iterator.foreach {
            case n: NumTok =>
              charIndex = n.integer.get
            case name: NameTok =>
              val charName = name.value
              if (charName.length >= 3 && charName.substring(0, 3).equalsIgnoreCase("uni")) {
                // parse failure or a missing base table rethrows out of the
                // font ctor (reference: PdfFont.cs:72-78)
                val ch = Integer.parseInt(charName.substring(3), 16).toChar
                val slot = charIndex; charIndex += 1
                encoding8Bit(slot) = ch
              } else {
                // the index is consumed even when the glyph lookup (or the
                // null table) fails, and the failure path consumes one more
                // (reference: PdfFont.cs:82-90)
                val slot = charIndex; charIndex += 1
                try encoding8Bit(slot) = Encodings.Chars(charName)
                catch { case _: Exception => charIndex += 1 }
              }
            case _ =>
          }
        }
      case encodingNameTok: NameTok =>
        val name = encodingNameTok.value
        if (name.contains("Identity")) isIdentity = true
        else encoding8Bit = Encodings.encoding8Bit(name)
      case _ =>
    }

    dict.get("FontDescriptor").foreach(fontDescriptor = _)
    dict.getDictionary("ToUnicode").foreach { toUnicodeStream =>
      if (encoding8Bit == null) encoding8Bit = Encodings.Standard.clone()
      applyToUnicode(toUnicodeStream)
    }
  } catch {
    case e: Exception =>
      exception = (if (exception == null) "" else exception) + PdfExtract.errorText(e) + "\n"
  }

  /** bfchar/bfrange overlay onto the 256-entry table; duplicate cid entries
    * abort the overlay exactly like the reference's `SortedDictionary.Add`
    * (reference: PdfParser/PdfEncodings.cs:1133-1195). */
  private def applyToUnicode(toUnicodeStream: DictTok): Unit = {
    val t = toUnicodeStream.loadStream()
    if (t.getStreamOpCode("begincmap") == null)
      throw t.streamException("ToUnicode stream is missing 'begincmap'.")
    t.setStreamMark()
    if (t.getStreamOpCode("endcodespacerange") == null)
      throw t.streamException("ToUnicode stream is missing 'endcodespacerange'.")
    toUnicodeHeader = t.getStreamMarkedText()
    cMap = mutable.TreeMap.empty[Int, Char]
    def cMapAdd(cid: Int, ch: Char): Unit = {
      if (cMap.contains(cid)) throw t.streamException(s"ToUnicode defines the same cid '$cid' twice.")
      cMap(cid) = ch
    }
    var done = false
    while (!done) {
      val opCode = t.getStreamOpCode()
      if (opCode == null) throw t.streamException("ToUnicode stream incomplete.")
      opCode match {
        case "beginbfchar" =>
          t.startStreamArgumentReading()
          val linesCount = t.getStreamInt()
          t.endStreamArgumentReading()
          var i = 0
          while (i < linesCount) {
            val cid = t.getStreamCid()
            val unicodeChar = t.getStreamUnicode().toChar
            encoding8Bit(cid) = unicodeChar
            cMapAdd(cid, unicodeChar)
            i += 1
          }
          if (t.getStreamOpCode() != "endbfchar")
            throw t.streamException("ToUnicode stream is missing 'endbfchar' after 'beginbfchar'.")
        case "beginbfrange" =>
          t.startStreamArgumentReading()
          val linesCount = t.getStreamInt()
          t.endStreamArgumentReading()
          var i = 0
          while (i < linesCount) {
            val cidStart = t.getStreamCid()
            val cidEnd = t.getStreamCid()
            if (cidEnd < cidStart)
              throw t.streamException(s"ToUnicode: beginbfrange cid1 '$cidStart should be smaller than cid2'$cidEnd'.")
            var unicodeChar = t.getStreamUnicode()
            var cid = cidStart
            while (cid <= cidEnd) {
              // (reference: PdfEncodings.cs:1180-1183)
              cMapAdd(cid, unicodeChar.toChar)
              encoding8Bit(cid) = unicodeChar.toChar
              unicodeChar += 1
              cid += 1
            }
            i += 1
          }
          if (t.getStreamOpCode() != "endbfrange")
            throw t.streamException("ToUnicode stream is missing 'endbfrange' after 'beginbfrange'.")
        case "endcmap" =>
          done = true
        case _ =>
      }
    }
  }
}
