package graft.pdf

import java.math.{BigDecimal => JBigDecimal}
import scala.collection.mutable

/** Per-partition reusable scratch (one instance per executor-core iterator,
  * reused across documents exactly like the reference's constructor-injected
  * buffers; reference: Tokeniser.cs:141-170, PdfParserTest/PdfFileTest.cs:34-35).
  *
  * Unlike the reference's fixed 200 KB inflate buffer (which throws on
  * overflow, Tokeniser.cs:1836-1837) the buffer grows geometrically up to
  * `maxInflateBytes`; past the cap a [[PdfStreamException]] is raised and the
  * document becomes an error row instead of killing the executor.
  */
final class WorkBuffers(initialInflate: Int = 200_000, val maxInflateBytes: Int = 1 << 26) {
  var inflateBuf: Array[Byte] = new Array[Byte](initialInflate)
  val sb: StringBuilder = new StringBuilder
  /** Document-level extracted-text accumulator: show-op text appends here
    * directly (PdfContent records [start,end) offsets instead of building
    * per-content strings), so one char buffer is reused across every
    * document of a partition — the only full-text copies left are the final
    * toString and Spark's UTF8String encode. */
  val docTextSb: java.lang.StringBuilder = new java.lang.StringBuilder(8192)
  val inflater: java.util.zip.Inflater = new java.util.zip.Inflater(true) // nowrap: we skip the 2-byte zlib header
}

/** Address of an indirect object: either a byte offset in the file, or a
  * (streamId, indexInStream) pair for compressed-object-stream members
  * (reference: PdfParser/PdfXRefTable.cs:141-178). */
private[pdf] final class ObjAddress(val address: Int, val streamId: Int, val streamObjectIndex: Int) {
  def isAddress: Boolean = streamId < 0
}

/** Lazy xref table: object ids map to addresses; tokens materialise on first
  * access (reference: PdfParser/PdfXRefTable.cs:12-138). */
private[pdf] final class XRefTable(tk: PdfTokeniser) {
  private val addresses = mutable.HashMap.empty[ObjectId, ObjAddress]
  private val tokens = mutable.HashMap.empty[ObjectId, PdfTok]

  /** First-seen wins: the newest xref section is read first
    * (reference: PdfXRefTable.cs:71-82). */
  def addAddress(id: ObjectId, address: Int): Unit =
    if (!addresses.contains(id)) addresses(id) = new ObjAddress(address, -1, -1)
  def addStreamAddress(id: ObjectId, streamId: Int, idx: Int): Unit =
    if (!addresses.contains(id)) addresses(id) = new ObjAddress(-1, streamId, idx)
  /** Free-entry marker, replicated AS-IS from the reference: the overwrite
    * is UNCONDITIONAL (`addresses[objectId] = …`, PdfXRefTable.cs:130-132),
    * so a free entry in an OLDER /Prev section — read after the newer ones —
    * clobbers a newer section's live definition of a reused object number,
    * and resolving it then errors the document (captured as an error row).
    * The first-seen-wins guard applies only to [[addAddress]]/
    * [[addStreamAddress]], exactly like the reference's Add. */
  def removeAddress(id: ObjectId): Unit =
    addresses(id) = new ObjAddress(-1, -1, -1)

  def containsAddress(id: ObjectId): Boolean = addresses.contains(id)

  def addToken(t: PdfTok): Unit = {
    val id = t.objectId.get
    tokens.get(id) match {
      case Some(_: NullTok) => tokens.remove(id)
      case Some(_)          => throw new IllegalStateException(s"object $id defined twice")
      case None             =>
    }
    tokens(id) = t
  }

  def apply(id: ObjectId): PdfTok =
    tokens.getOrElse(
      id,
      addresses.get(id) match {
        case Some(a) if a.isAddress => tk.tokenAt(id, a.address)
        case Some(a)                => tk.tokenInObjectStream(id, a.streamId, a.streamObjectIndex)
        case None =>
          // "not found" sentinel; registered like the reference's
          // NullToken(isErrorNull) which self-registers via the Token base
          // ctor (reference: PdfXRefTable.cs:44, Token.cs:25-31)
          val sentinel = new NullTok(Some(id))
          tokens(id) = sentinel
          sentinel
      })
}

/** Byte-cursor tokeniser + content-stream interpreter state for ONE pdf
  * document. All reference file:line citations point at the behaviour being
  * reproduced (reference: PdfParser/Tokeniser.cs).
  *
  * Deliberate deviations from the reference, all documented inline:
  *  - newline canonicalised to "\n" (the reference appends the C#
  *    `Environment.NewLine`),
  *  - growable inflate buffer (see [[WorkBuffers]]),
  *  - content-stream comment skipping advances the stream cursor (the
  *    reference advances the *file* cursor — an evident bug, Tokeniser.cs:1917),
  *  - page-tree recursion carries a visited set (the reference would loop
  *    forever on a cyclic /Kids graph, Tokeniser.cs:1161-1176).
  */
final class PdfTokeniser(
    pdfBytes: Array[Byte],
    val password: String = "",
    val contentDelimiter: String = "|",
    val buffers: WorkBuffers = new WorkBuffers(),
    /** When false, BT..ET raw-byte fragments are not materialised — they are
      * a full char copy of every content stream, which a bulk extraction
      * pipeline never reads; skipping them roughly halves the allocation
      * rate of the hot path (output `text` is unaffected). */
    val captureFragments: Boolean = true) {

  private val CR: Byte = '\r'
  private val LF: Byte = '\n'

  /** File buffer + cursor; `bytes` is swapped temporarily while reading out
    * of a decompressed object stream (reference: Tokeniser.cs:2161-2189). */
  private[pdf] var bytes: Array[Byte] = pdfBytes
  private[pdf] var idx: Int = 0

  private[pdf] val sb: StringBuilder = buffers.sb

  /** Per-document view of the reused document-text buffer (reset here, once,
    * when the tokeniser for a new document is constructed). */
  private[pdf] val docText: java.lang.StringBuilder = {
    buffers.docTextSb.setLength(0)
    buffers.docTextSb
  }
  private[pdf] val xref = new XRefTable(this)
  private val trailerDictionaries = mutable.ArrayBuffer.empty[DictTok]
  val trailerEntries: mutable.LinkedHashMap[String, PdfTok] = mutable.LinkedHashMap.empty

  // decoded-stream slice + cursor (reference: Tokeniser.cs:1783-1784)
  private var streamBuf: Array[Byte] = Array.emptyByteArray
  private var streamOff: Int = 0
  private var streamLen: Int = 0
  private var streamIdx: Int = 0

  private val objectStreams = mutable.HashMap.empty[Int, (Array[(Int, Int)], Array[Byte])]

  var isStringNeedsDecryption: Boolean = false
  private var globalEncryptionKey: Array[Byte] = null

  private[pdf] val pages = mutable.ArrayBuffer.empty[PdfPage]
  def pageList: Seq[PdfPage] = pages.toSeq

  // ---------------------------------------------------------------- errors

  private def displayChar(out: StringBuilder, b: Byte): Unit = {
    val ub = b & 0xff
    if (b == CR || b == LF || (ub >= 0x20 && ub < 0x7f)) out.append(ub.toChar)
    else {
      val ch = Encodings.PdfEncoding(ub)
      if (ch < 0xffff) out.append(ch)
      else out.append('\'').append(Integer.toHexString(ub)).append('\'')
    }
  }

  /** ±100 bytes of file context around `index` (reference: Tokeniser.cs:1219-1238). */
  def showBufferContentAtIndex(index: Int): String = {
    val out = new StringBuilder
    val from = math.max(0, index - 100)
    val to = math.min(bytes.length, index + 100)
    var i = from
    while (i < index) { displayChar(out, bytes(i)); i += 1 }
    out.append("==>")
    if (i < bytes.length) { displayChar(out, bytes(i)); i += 1 }
    out.append("<==")
    while (i < to) { displayChar(out, bytes(i)); i += 1 }
    out.append('\n')
    out.toString
  }

  /** ±100 bytes of decoded-stream context (reference: Tokeniser.cs:2678-2700). */
  def showStreamContentAtIndex(): String = {
    val out = new StringBuilder
    val display = math.min(streamLen, math.max(0, streamIdx))
    val from = math.max(0, display - 100)
    val to = math.min(streamLen, display + 100)
    var i = from
    while (i < display) { displayChar(out, streamBuf(streamOff + i)); i += 1 }
    out.append("==>")
    if (i < streamLen) { displayChar(out, streamBuf(streamOff + i)); i += 1 }
    out.append("<==")
    while (i < to) { displayChar(out, streamBuf(streamOff + i)); i += 1 }
    out.append('\n')
    out.toString
  }

  private[pdf] def fileException(message: String): PdfException = {
    val ctx = showBufferContentAtIndex(idx)
    new PdfException(message, ctx)
  }
  private[pdf] def streamException(message: String): PdfStreamException = {
    val ctx = showStreamContentAtIndex()
    new PdfStreamException(message, ctx)
  }

  // ------------------------------------------------------------ top levels

  /** reference: Tokeniser.cs:180-209 — `%PDF-1.x` at offset 0, else within
    * the first 2000 bytes (FPDF tolerance). The reference reads the version
    * byte `x`, so a file that ends right after `%PDF-1.` is an
    * index-out-of-range error row. */
  def verifyFileHeader(): Unit = {
    def matchesAt(i: Int): Boolean =
      bytes(i) == '%' && bytes(i + 1) == 'P' && bytes(i + 2) == 'D' && bytes(i + 3) == 'F' &&
        bytes(i + 4) == '-' && bytes(i + 5) == '1' && bytes(i + 6) == '.'
    var i = 0
    while (i < 2000 && !matchesAt(i)) i += 1
    if (i == 2000) {
      val found = new String(bytes.take(7).map(b => (b & 0xff).toChar))
      throw fileException(s"PDF File Header Format error: A pdf file should start with the bytes '%PDF-1.', but they are '$found'.")
    }
    if (i + 7 >= bytes.length) throw new ArrayIndexOutOfBoundsException(i + 7)
  }

  def findPages(): Unit = {
    val xrefIndex = findXrefTable()
    readXrefTable(xrefIndex)
    readTrailers()
  }

  /** Locate the newest xref: `startxref` offset near EOF (tolerating trailing
    * CR/LF/space/NUL padding) or the linearized-file fallback
    * (reference: Tokeniser.cs:230-326). */
  private def findXrefTable(): Int = {
    idx = bytes.length - 1
    var b = bytes(idx); idx -= 1
    while (b == CR || b == LF || b == ' ' || b == 0) { b = bytes(idx); idx -= 1 }

    def nextBack(): Byte = { val v = bytes(idx); idx -= 1; v }

    if (b == 'F' && nextBack() == 'O' && nextBack() == 'E' && nextBack() == '%' && nextBack() == '%') {
      b = nextBack()
      while (b == CR || b == LF || b == ' ') b = nextBack()
      var xrefIndex = 0
      var power = 1
      var done = false
      while (!done) {
        if (b >= '0' && b <= '9') {
          xrefIndex += power * (b - '0')
          power *= 10
          b = nextBack()
        } else if (b == CR || b == LF || b == ' ') done = true
        else throw fileException("This is not a pdf file.")
      }
      idx = xrefIndex
      xrefIndex
    } else {
      // linearized pdf: the first object should be the linearization dict,
      // the first xref section follows it (reference: Tokeniser.cs:266-324)
      idx = 12 // length of "%PDF-1.2 /%â" — just inside the binary marker line
      var c = bytes(idx); idx += 1
      while (c != CR && c != LF) { c = bytes(idx); idx += 1 }
      getNextToken() match {
        case d: DictTok if d.containsKey("Linearized") =>
          do idx += 1 while (!(bytes(idx) == 'x' && bytes(idx + 1) == 'r' && bytes(idx + 2) == 'e' && bytes(idx + 3) == 'f'))
          idx
        case _ =>
          throw fileException("Pdf file format error: The end of file mark should be '%%EOF'.")
      }
    }
  }

  private def verify(s: String): Boolean = {
    val saved = idx
    var i = 0
    while (i < s.length) {
      if (bytes(idx) != s.charAt(i)) { idx = saved; return false }
      idx += 1
      i += 1
    }
    true
  }

  /** Classic xref tables and /Type/XRef streams, walking the `Prev` chain;
    * first-seen (newest) entry wins (reference: Tokeniser.cs:337-505). */
  private def readXrefTable(xrefIndex: Int): Unit = {
    try {
      idx = xrefIndex
      var continueAt = xrefIndex
      while (continueAt >= 0) {
        idx = continueAt
        var trailerDictionary: DictTok = null
        if (verify("xref")) {
          // classic table: sections of "start count" + 20-byte rows
          var sawTrailer = false
          while (!sawTrailer) {
            val startObjectNumber = parseNumber(None).integer.get
            val xrefsCount = parseNumber(None).integer.get
            var i = 0
            while (i < xrefsCount) {
              val objectNumber = startObjectNumber + i
              val address = parseNumber(None).integer.get
              val generation = parseNumber(None).integer.get
              val objectId = ObjectId(objectNumber, generation)
              idx += 1
              val b = bytes(idx); idx += 1
              if (b == 'n') {
                if (!xref.containsAddress(objectId)) xref.addAddress(objectId, address)
              } else if (b == 'f') {
                if (objectNumber == 0) {
                  // spec says exactly 65535; InDesign writes 65536 (reference: Tokeniser.cs:373)
                  if (generation < 65535)
                    throw fileException(s"Xref table: entry 0000000000 should have the value 65535 but has '$generation' instead.")
                } else xref.removeAddress(objectId) // reference parity: unconditional clobber
              } else throw fileException(s"'n' or 'f' missing after ref $address $generation.")
              i += 1
            }
            skipWhiteSpace()
            if (bytes(idx) == 't') sawTrailer = true
          }
          if (!verify("trailer"))
            throw fileException("Pdf file format error: trailer was missing after xref table.")
          trailerDictionary = parseDictionary(None)
          trailerDictionaries += trailerDictionary
        } else {
          // xref stream (reference: Tokeniser.cs:404-491)
          getNextToken() match {
            case xrefStream: DictTok =>
              readXrefStreamEntries(xrefStream)
              trailerDictionary = xrefStream
              trailerDictionaries += trailerDictionary
            case _ =>
              throw fileException("Cannot find cross reference table in pdf file.")
          }
        }
        continueAt = trailerDictionary.get("Prev") match {
          case Some(n: NumTok) => n.integer.get
          case _               => -1
        }
      }
    } catch {
      case e: PdfException       => throw e
      case e: PdfStreamException => throw e
      case e: Exception          => throw fileException("Error in PdfParser Read Xref Table: " + e.getMessage)
    }
  }

  /** Decode one /Type/XRef stream's entry rows into the xref table,
    * first-seen wins (reference: Tokeniser.cs:404-491). */
  private def readXrefStreamEntries(xrefStream: DictTok): Unit = {
    if (!xrefStream.tpe.contains("XRef"))
      throw fileException(s"readXrefTable(); dictionary type of xrefStream should be 'XRef' but was '${xrefStream.tpe.orNull}'.")
    val size = xrefStream.getNumber("Size")
      .getOrElse(throw fileException("readXrefTable(); xrefStream is missing the 'Size' entry."))
    val indexPairs: IndexedSeq[Int] = xrefStream.getArray("Index") match {
      case Some(a) => a.iterator.map(_.asInstanceOf[NumTok].integer.get).toIndexedSeq
      case None    => IndexedSeq(0, size.integer.get)
    }
    val w = xrefStream.getArray("W")
      .getOrElse(throw fileException("readXrefTable(); xrefStream is missing the 'W' entry."))
    if (w.length != 3)
      throw fileException(s"readXrefTable(); xrefStream should have 3 integers in 'W' entry, but there were ${w.length}.")
    val widths = Array(
      w(0).asInstanceOf[NumTok].integer.get,
      w(1).asInstanceOf[NumTok].integer.get,
      w(2).asInstanceOf[NumTok].integer.get)

    xrefStream.loadStream()
    var objectCount = 0
    var objectNumber = 0
    var pairIdx = 0
    while (streamIdx < streamLen) {
      if (objectCount <= 0) {
        objectNumber = indexPairs(pairIdx); pairIdx += 1
        objectCount = indexPairs(pairIdx); pairIdx += 1
      } else objectNumber += 1
      objectCount -= 1
      streamByteValue(widths(0)) match {
        case 0 => // free entry: skip the two payload columns
          streamByteValue(widths(1)); streamByteValue(widths(2))
        case 1 =>
          val byteOffset = streamByteValue(widths(1))
          val gen = streamByteValue(widths(2))
          xref.addAddress(ObjectId(objectNumber, gen), byteOffset)
        case 2 =>
          val streamObjectNumber = streamByteValue(widths(1))
          val streamObjectIndex = streamByteValue(widths(2))
          xref.addStreamAddress(ObjectId(objectNumber, 0), streamObjectNumber, streamObjectIndex)
        case other =>
          throw streamException(s"readXrefTable(); xrefStream first column can be 0..2, but $other was found.")
      }
    }
  }

  private def streamByteValue(byteCount: Int): Int = {
    var v = 0
    var i = 0
    while (i < byteCount) {
      v = v * 0x100 + (streamBuf(streamOff + streamIdx) & 0xff)
      streamIdx += 1
      i += 1
    }
    v
  }

  /** Union the trailer dicts (newest first); conflicting non-ID values are an
    * error; then encryption / DocumentInfo / Root→Pages→Metadata
    * (reference: Tokeniser.cs:508-617). */
  private def readTrailers(): Unit = {
    // /XRefStm (a hybrid file's supplementary xref stream) is bookkeeping
    // here, as in the reference (Tokeniser.cs:518): objects only that
    // stream lists stay unresolved
    val bookkeeping = Set("Size", "Prev", "XRefStm", "DecodeParms", "Filter", "Index", "Length", "Type", "W")
    trailerDictionaries.foreach { trailer =>
      trailer.keys.foreach { key =>
        if (!bookkeeping.contains(key)) {
          val child = trailer(key)
          trailerEntries.get(key) match {
            case Some(existing) =>
              if (existing.getClass != child.getClass)
                throw fileException(s"Trailer: Token '${child.render}' for key '$key' in previous trailer table should be the same as the token '${existing.render}' in the new table.")
              if (key != "ID" && child.render != existing.render)
                throw fileException(s"Trailer: Token '${child.render}' for key '$key' in previous trailer table should be the same as the token '${existing.render}' in the new table.")
            case None =>
              trailerEntries(key) = child
          }
        }
      }
    }

    // /ID's string is not kept either, but iterating it resolves indirect
    // elements, which loads objects and can throw (not caught, as in the
    // reference)
    trailerEntries.get("ID").foreach {
      case a: ArrTok => a.iterator.foreach(_ => ())
      case _         =>
    }

    trailerEntries.get("Encrypt").foreach { enc =>
      setupEncryption(enc.asInstanceOf[DictTok])
      isStringNeedsDecryption = true
      // strings parsed before the key existed are decrypted in place
      // (reference: Tokeniser.cs:562-575)
      trailerEntries.foreach { case (key, value) =>
        if (key != "Root" && key != "Encrypt" && key != "ID") {
          value match {
            case dict: DictTok =>
              dict.keys.foreach { k =>
                dict.entries(k) match {
                  case s: StrTok => s.value = decryptString(dict.objectId.get, s.value)
                  case _         =>
                }
              }
            case _ =>
          }
        }
      }
    }

    // the reference walks /Info's values. Their strings are not kept, but
    // resolving them loads objects into the xref table in the reference's
    // order, so the walk stays; its failures are caught, as there
    trailerEntries.get("Info").foreach { infoToken =>
      def resolveValues(t: PdfTok): Unit = t match {
        case d: DictTok => d.keys.foreach(d(_))
        case _          =>
      }
      try infoToken match {
        case a: ArrTok => a.iterator.foreach(resolveValues)
        case t         => resolveValues(t)
      } catch { case _: Exception => () }
    }

    trailerEntries.get("Root").foreach { rootToken =>
      val root = rootToken.asInstanceOf[DictTok]
      root.get("Pages").foreach(readPages(_, mutable.HashSet.empty))
      root.get("Metadata").foreach(readMetadata)
    }
  }

  /** reference: Tokeniser.cs:627-690 (live branch only — the `isNew` flag is
    * hard-wired true there). Only the RC4 standard handler (V 1|2, R 2|3)
    * is supported; a wrong user password ends in the reference's
    * unimplemented owner-password path, i.e. an exception. */
  private def setupEncryption(enc: DictTok): Unit = {
    val filter = enc.getName("Filter")
    val v = enc.getNumber("V").flatMap(_.integer)
    val r = enc.getNumber("R").flatMap(_.integer)
    val p = enc.getNumber("P")
    val o = enc.getHexBytes("O")
    val u = enc.getHexBytes("U")
    val idToken = trailerEntries.get("ID")
    val supported = filter.contains("Standard") &&
      (v.contains(1) || v.contains(2)) && (r.contains(2) || r.contains(3))
    if (!supported || p.isEmpty || o.isEmpty || u.isEmpty || idToken.isEmpty)
      throw new IllegalArgumentException("PdfParser can only decrypt pdf files using Standard encryption.\n" + enc.render)

    val lengthBytes = enc.getNumber("Length").flatMap(_.integer).getOrElse(40) / 8
    val trailerId = idToken.get.asInstanceOf[ArrTok](0).asInstanceOf[StrTok].hexBytes.get
    val padded = PdfCrypto.pad(password)
    val permission = p.get.dec.longValue.toInt
    val key = PdfCrypto.computeEncryptionKey(padded, o.get, permission, trailerId, lengthBytes)
    if (!PdfCrypto.authenticateUserPassword(padded, trailerId, key, u.get))
      // reference: Tokeniser.cs:810-840 — owner-password authentication is
      // NotImplementedException there; replicated as an error
      throw new UnsupportedOperationException("owner-password authentication is not implemented")
    globalEncryptionKey = key
  }

  /** reference: Tokeniser.cs:1161-1176, plus a cycle guard. */
  private def readPages(pagesToken: PdfTok, visited: mutable.HashSet[ObjectId]): Unit = {
    val pagesDictionary = pagesToken.asInstanceOf[DictTok]
    pagesDictionary.objectId.foreach { id =>
      if (!visited.add(id)) return
    }
    pagesDictionary.get("Kids").foreach { kidsToken =>
      kidsToken.asInstanceOf[ArrTok].iterator.foreach { pageToken =>
        val pageDict = pageToken.asInstanceOf[DictTok]
        pageDict.tpe match {
          case Some("Page")  => pages += new PdfPage(this, pageDict)
          case Some("Pages") => readPages(pageDict, visited)
          case _             =>
        }
      }
    }
  }

  /** reference: Tokeniser.cs:1179-1188. The XML payload itself is not
    * kept; loading it decides whether the document is an error row. */
  private def readMetadata(metadataToken: PdfTok): Unit = {
    val md = metadataToken.asInstanceOf[DictTok]
    md.get("Subtype").foreach {
      case n: NameTok if n.value == "XML" => md.loadStream()
      case _ =>
    }
  }

  /** Raw copy of the current (decoded) stream payload; the shared decode
    * buffers are reused per document, so callers that keep payloads need
    * their own copy. */
  private[pdf] def streamBytesCopy(): Array[Byte] =
    java.util.Arrays.copyOfRange(streamBuf, streamOff, streamOff + streamLen)

  // ------------------------------------------------------------- lexing

  private def isWhiteByte(b: Byte): Boolean =
    b == ' ' || b == LF || b == CR || b == '\t' || b == 12 || b == 0

  /** Whitespace set {SP,LF,CR,TAB,FF,NUL}; '%' also counts in the static
    * check (reference: Tokeniser.cs:1519-1532). */
  def isWhiteSpaceByte(b: Byte): Boolean = isWhiteByte(b) || b == '%'

  private def isDelimiter(b: Byte): Boolean =
    isWhiteByte(b) || b == '%' || b == '(' || b == ')' || b == '<' || b == '>' ||
      b == '[' || b == ']' || b == '{' || b == '}' || b == '/'

  /** Move to the first non-whitespace byte, skipping `%` comments to EOL;
    * returns that byte with the cursor ON it (reference: Tokeniser.cs:1538-1561). */
  private[pdf] def skipWhiteSpace(): Byte = {
    while (true) {
      var b = bytes(idx)
      while (b == '%') {
        do { idx += 1; b = bytes(idx) } while (b != LF && b != CR)
        if (b == CR && bytes(idx + 1) == LF) idx += 1
        idx += 1; b = bytes(idx)
      }
      if (isWhiteByte(b)) idx += 1
      else return b
    }
    0 // unreachable
  }

  /** Error unless the cursor is on a delimiter/whitespace (reference: Tokeniser.cs:1716-1728). */
  private def validateDelimiter(what: String): Unit = {
    val b = bytes(idx)
    if (!isDelimiter(b))
      throw fileException(s"$what format error: Character after token should be a delimiter but was '${(b & 0xff).toChar}'.")
  }

  /** Dispatch on the first non-whitespace byte (reference: Tokeniser.cs:1397-1441). */
  def getNextToken(
      objectId: Option[ObjectId] = None,
      throwOnError: Boolean = true): PdfTok = {
    val b = skipWhiteSpace()
    (b: @annotation.switch) match {
      case 'f' | 't' => register(parseBool(objectId))
      case '+' | '-' | '.' | '0' | '1' | '2' | '3' | '4' | '5' | '6' | '7' | '8' | '9' =>
        processNumber(objectId, throwOnError)
      case '(' => register(parseString(objectId))
      case '<' =>
        if (bytes(idx + 1) == '<') register(parseDictionary(objectId))
        else register(parseString(objectId))
      case '/' => register(parseName(objectId))
      case '[' => register(parseArray(objectId))
      case 'n' => register(parseNull(objectId))
      case _ =>
        if (throwOnError) throw fileException(s"NextToken(): unexpected character '${(b & 0xff).toChar}'.")
        else null
    }
  }

  /** Tokens carrying an object id register in the xref cache
    * (reference: Token.cs:25-31). */
  private def register(t: PdfTok): PdfTok = {
    if (t != null && t.objectId.isDefined && !t.isInstanceOf[RefTok]) xref.addToken(t)
    t
  }

  /** `n g R` / `n g obj … endobj` disambiguation with cursor backtracking
    * (reference: Tokeniser.cs:1444-1498). */
  private def processNumber(objectId: Option[ObjectId], throwOnError: Boolean): PdfTok = {
    val number1 = register(parseNumber(objectId))
    val token2Index = idx
    if (!number1.asInstanceOf[NumTok].hasReferenceFormat) return number1

    getNextToken(throwOnError = false) match {
      case number2: NumTok if number2.hasReferenceFormat =>
        val b = skipWhiteSpace()
        val refId = ObjectId(number1.asInstanceOf[NumTok].integer.get, number2.integer.get)
        if (b == 'R') {
          idx += 1
          new RefTok(Some(refId))
        } else if ({ val ok = bytes(idx) == 'o' && bytes(idx + 1) == 'b' && bytes(idx + 2) == 'j'; idx += 3; ok }) {
          skipWhiteSpace()
          val token = getNextToken(Some(refId), throwOnError)
          val e = skipWhiteSpace()
          if (e != 'e' || bytes(idx + 1) != 'n' || bytes(idx + 2) != 'd' || bytes(idx + 3) != 'o' ||
              bytes(idx + 4) != 'b' || bytes(idx + 5) != 'j')
            throw fileException("Indirect object format error, string 'endobj' missing.")
          idx += 6 // past "endobj" (cursor was ON 'e')
          token
        } else {
          idx = token2Index
          number1
        }
      case _ =>
        idx = token2Index
        number1
    }
  }

  /** Resolve an indirect reference through the xref table. */
  private[pdf] def tokenById(id: ObjectId): PdfTok = xref(id)

  /** Parse the object stored at a byte address, preserving the main cursor
    * (reference: Tokeniser.cs:1382-1388). */
  private[pdf] def tokenAt(id: ObjectId, address: Int): PdfTok = {
    val saved = idx
    idx = address
    val token = getNextToken()
    idx = saved
    token
  }

  /** Expand a compressed object stream (cached per document) and parse the
    * requested member (reference: Tokeniser.cs:2161-2189). */
  private[pdf] def tokenInObjectStream(id: ObjectId, streamId: Int, streamObjectIndex: Int): PdfTok = {
    val savedBytes = bytes
    val savedIdx = idx
    // restore MUST run on the failure path too: a caller that swallows a
    // failed member parse (the additive surfaces do) would otherwise leave
    // the main cursor pointing into the decompressed ObjStm buffer and
    // corrupt every subsequent parse of the document
    try {
      val (offsets, content) = objectStreams.getOrElseUpdate(streamId, {
        val objStream = xref(ObjectId(streamId, 0)).asInstanceOf[DictTok]
        val first = objStream.getNumber("First")
          .getOrElse(throw fileException("Pdf object stream: 'First' entry is missing.")).integer.get
        val n = objStream.getNumber("N")
          .getOrElse(throw fileException("Pdf object stream: 'N' entry is missing.")).integer.get
        objStream.loadStream()
        val offs = new Array[(Int, Int)](n)
        var i = 0
        while (i < n) {
          offs(i) = (getStreamInt(), getStreamInt() + first)
          i += 1
        }
        (offs, streamBytesCopy())
      })
      bytes = content
      val (memberId, offset) = offsets(streamObjectIndex)
      if (memberId != id.objectNumber)
        throw fileException(s"Pdf object stream: stream $streamId should contain ${id.objectNumber} at $streamObjectIndex, but was $memberId.")
      idx = offset
      getNextToken(Some(id))
    } finally {
      bytes = savedBytes
      idx = savedIdx
    }
  }

  // -------------------------------------------------------- token parsers

  /** reference: Token.cs:66-108 */
  private def parseBool(objectId: Option[ObjectId]): BoolTok = {
    val b = skipWhiteSpace()
    if (b == 't' && bytes(idx + 1) == 'r' && bytes(idx + 2) == 'u' && bytes(idx + 3) == 'e') {
      idx += 4
      validateDelimiter("Bool")
      new BoolTok(true, objectId)
    } else if (b == 'f' && bytes(idx + 1) == 'a' && bytes(idx + 2) == 'l' && bytes(idx + 3) == 's' && bytes(idx + 4) == 'e') {
      idx += 5
      validateDelimiter("Bool")
      new BoolTok(false, objectId)
    } else throw fileException(s"Bool not valid, should be 'true' or 'false'. Invalid character: ${(b & 0xff).toChar}")
  }

  private val TEN = JBigDecimal.TEN
  private val INT_MAX = JBigDecimal.valueOf(Int.MaxValue)

  /** Digit-by-digit base-10 parse; `integer` is defined iff at most the
    * decimal point followed the integer digits (`divider<=10`) and the value
    * fits in Int — so `34.` has integer 34 (reference: Token.cs:124-174). */
  private[pdf] def parseNumber(objectId: Option[ObjectId]): NumTok = {
    var sign = 1
    var value = JBigDecimal.ZERO
    var divider: JBigDecimal = null
    var b = skipWhiteSpace()
    if (b == '+') { idx += 1; b = bytes(idx) }
    else if (b == '-') { sign = -1; idx += 1; b = bytes(idx) }
    var done = false
    while (!done) {
      if (b >= '0' && b <= '9') {
        if (divider == null) value = value.multiply(TEN).add(JBigDecimal.valueOf(b - '0'))
        else { value = value.add(JBigDecimal.valueOf(b - '0').divide(divider)); divider = divider.multiply(TEN) }
      } else if (b == '.') {
        if (divider != null) throw fileException("Reading number error: Second decimal point found.")
        divider = TEN
      } else done = true
      if (!done) { idx += 1; b = bytes(idx) }
    }
    val dec = if (sign < 0) value.negate() else value
    val integer =
      if ((divider == null || divider.compareTo(TEN) <= 0) && dec.compareTo(INT_MAX) < 0) Some(dec.intValue)
      else None
    validateDelimiter("Integer")
    new NumTok(integer, dec, objectId)
  }

  /** Literal string: backslash escapes kept RAW in the value; hex string:
    * brackets kept, bytes decoded alongside when even-length
    * (reference: Token.cs:206-276). */
  private def parseString(objectId: Option[ObjectId]): StrTok = {
    sb.setLength(0)
    var hexBytes: Option[Array[Byte]] = None
    val b0 = skipWhiteSpace()
    if (b0 == '(') {
      var bracketsCount = 1
      idx += 1
      var b = bytes(idx)
      var done = false
      while (!done) {
        if (b == '\\') {
          sb.append(b.toChar)
          idx += 1; b = bytes(idx)
        } else {
          if (b == '(') bracketsCount += 1
          else if (b == ')') {
            bracketsCount -= 1
            if (bracketsCount == 0) done = true
          }
        }
        if (!done) {
          sb.append((b & 0xff).toChar)
          idx += 1; b = bytes(idx)
        }
      }
    } else if (b0 == '<') {
      sb.append('<')
      idx += 1
      var b = bytes(idx)
      while (b != '>') {
        sb.append((b & 0xff).toChar)
        idx += 1; b = bytes(idx)
      }
      sb.append('>')
      if (sb.length % 2 == 0) {
        val out = new Array[Byte]((sb.length - 2) / 2)
        var sbIndex = 1
        var ok = true
        var i = 0
        while (ok && i < out.length) {
          val h0 = hexDigit(sb.charAt(sbIndex)); sbIndex += 1
          val h1 = hexDigit(sb.charAt(sbIndex)); sbIndex += 1
          if (h0 < 0 || h1 < 0) ok = false
          else out(i) = (h0 * 16 + h1).toByte
          i += 1
        }
        if (ok) hexBytes = Some(out)
      }
    } else throw fileException(s"String format error, '(' or '<' expected as leading character, but was '${(b0 & 0xff).toChar}'.")

    val raw = sb.toString
    // `objectId.get` throws for strings NESTED in dicts/arrays parsed after
    // encryption setup — replicated AS-IS from the reference, whose nested
    // tokens also carry no id and whose `objectId!.Value` throws the same
    // way (Token.cs:269 + DictionaryToken/ArrayToken passing no id to
    // children); the failure is captured as the document's error row.
    // Top-level trailer dicts (/Info) are covered by the
    // decrypt-strings-parsed-before-the-key-existed fix-up loop.
    val value =
      if (!isStringNeedsDecryption) raw
      else decryptString(objectId.get, raw)
    idx += 1
    new StrTok(value, hexBytes, objectId)
  }

  private def hexDigit(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') 10 + c - 'A'
    else if (c >= 'a' && c <= 'f') 10 + c - 'a'
    else -1

  /** reference: Token.cs:310-322 */
  private def parseName(objectId: Option[ObjectId]): NameTok = {
    sb.setLength(0)
    val b0 = skipWhiteSpace()
    if (b0 != '/') throw fileException(s"Name format error: First character should be '/' but was '${(b0 & 0xff).toChar}'")
    idx += 1
    var b = bytes(idx)
    while (!isDelimiter(b)) {
      sb.append((b & 0xff).toChar)
      idx += 1
      b = bytes(idx)
    }
    new NameTok(sb.toString, objectId)
  }

  /** reference: Token.cs:342-364 */
  private def parseArray(objectId: Option[ObjectId]): ArrTok = {
    val arr = new ArrTok(this, objectId)
    val b0 = skipWhiteSpace()
    if (b0 != '[') throw fileException(s"illegal array format, leading character '[' expected but was ${(b0 & 0xff).toChar}.")
    idx += 1
    var b = bytes(idx)
    while (b != ']') {
      val token = getNextToken(throwOnError = false)
      if (token != null) {
        arr.items += token
        b = skipWhiteSpace()
      } else {
        b = bytes(idx)
        if (b != ']') throw fileException(s"NextToken(): unexpected character '${(b & 0xff).toChar}'.")
      }
    }
    idx += 1
    arr
  }

  /** reference: Token.cs:447-496 */
  private[pdf] def parseDictionary(objectId: Option[ObjectId]): DictTok = {
    val dict = new DictTok(this, objectId)
    val b0 = skipWhiteSpace()
    if (b0 != '<' || bytes(idx + 1) != '<')
      throw fileException(s"illegal dictionary format, leading characters '<<' expected, but was'${(b0 & 0xff).toChar}${(bytes(idx + 1) & 0xff).toChar}'.")
    idx += 2
    var b = skipWhiteSpace()
    while (b != '>' && bytes(idx + 1) != '>') {
      if (b != '/')
        throw fileException(s"Invalid dictionary format, '/' expected as leading character for dictionary key name, but was ${(b & 0xff).toChar}.")
      val key = parseName(None)
      val value = getNextToken()
      if (key.value == "Type") value match {
        case n: NameTok => dict.tpe = Some(n.value)
        case _          =>
      }
      dict.entries.get(key.value) match {
        case Some(existing: ArrTok) => existing.items += value
        case Some(existing) =>
          val merged = new ArrTok(this, None)
          merged.items += existing
          merged.items += value
          dict.entries(key.value) = merged
        case None =>
          dict.entries(key.value) = value
      }
      b = skipWhiteSpace()
    }
    idx += 1
    if ((idx + 1) >= bytes.length) {
      // dictionary closes the buffer: cannot be a stream
    } else {
      idx += 1
      val (start, len) = findStreamStart(dict)
      dict.streamStartIndex = start
      dict.streamLength = len
    }
    dict
  }

  /** reference: Token.cs:697-721 */
  private def parseNull(objectId: Option[ObjectId]): NullTok = {
    val b = skipWhiteSpace()
    if (b == 'n' && bytes(idx + 1) == 'u' && bytes(idx + 2) == 'l' && bytes(idx + 3) == 'l') {
      idx += 4
      validateDelimiter("Bool")
      new NullTok(objectId)
    } else throw fileException(s"Null token not valid, should be 'null'. Invalid character: ${(b & 0xff).toChar}")
  }

  // ------------------------------------------------------- stream locating

  /** If a `stream` keyword follows the dictionary: find the payload start
    * (tolerating a CR-only EOL) and validate `/Length` against `endstream`,
    * rescanning for the literal keyword when it doesn't match
    * (reference: Tokeniser.cs:1612-1698). Returns (start, length) or
    * (MinValue, MinValue). */
  private def findStreamStart(dict: DictTok): (Int, Int) = {
    val startBytesIndex = idx
    skipWhiteSpace()
    if (!verify("stream")) {
      idx = startBytesIndex
      return (Int.MinValue, Int.MinValue)
    }
    var done = false
    while (!done) {
      val c = bytes(idx); idx += 1
      if (c == LF) done = true
      else if (c == CR) {
        if (bytes(idx) == LF) idx += 1
        done = true
      }
    }
    val streamStartIndex = idx

    // the resolving accessor throws when /Length is absent, exactly like the
    // reference's dictionary indexer (Tokeniser.cs:1644, Token.cs:499-508)
    (dict("Length"): @unchecked) match {
      case lengthNum: NumTok =>
        val length = lengthNum.integer.get
        if (streamStartIndex + length > bytes.length - 20) {
          dict.streamLengthProblem =
            (if (dict.streamLengthProblem == null) "" else dict.streamLengthProblem) +
              s"Pdf content stream: Length $length points after last byte ${bytes.length} in pdf file.\n" +
              showBufferContentAtIndex(idx)
        } else {
          idx += length
          skipWhiteSpace()
          val endstreamIndex = idx
          if (verify("endstream")) return (streamStartIndex, length)
          idx = endstreamIndex
          dict.streamLengthProblem =
            (if (dict.streamLengthProblem == null) "" else dict.streamLengthProblem) +
              s"Pdf content stream: Length $length does not point to endstream.\n" +
              showBufferContentAtIndex(idx)
          idx = streamStartIndex
        }
      case _ =>
    }

    // /Length unusable: search the literal "endstream" (reference: Tokeniser.cs:1678-1696)
    val endstream = "endstream"
    var match9 = 0
    while (true) {
      val searchByte = bytes(idx); idx += 1
      if (searchByte == endstream.charAt(match9)) {
        match9 += 1
        if (match9 == endstream.length) {
          var length = idx - streamStartIndex - endstream.length - 1
          if (bytes(idx - endstream.length - 2) == CR) length -= 1
          return (streamStartIndex, length)
        }
      } else match9 = 0
    }
    (Int.MinValue, Int.MinValue) // unreachable
  }

  // -------------------------------------------------------- stream filling

  private[pdf] var argumentsStartIndex: Int = Int.MinValue

  /** Decrypt (RC4 into a per-dict memo) + inflate or alias the raw slice
    * (reference: Tokeniser.cs:1796-1846). */
  private[pdf] def fillStreamBytes(dict: DictTok, filter: StreamFilter.Value): Unit = {
    idx = dict.streamStartIndex
    argumentsStartIndex = Int.MinValue
    // source triple: the (possibly decrypted) stored payload
    var srcBuf = bytes
    var srcOff = dict.streamStartIndex
    var srcLen = dict.streamLength
    if (globalEncryptionKey != null) {
      // decrypt into a per-dict memo, NOT in place: the caller's payload
      // array must stay pristine (the reference mutates its own per-load
      // copy, Tokeniser.cs:1796-1846; our extract() is a pure function —
      // extracting the same array twice must not double-decrypt)
      if (dict.decryptedStream == null) {
        val copy = java.util.Arrays.copyOfRange(
          bytes, dict.streamStartIndex, dict.streamStartIndex + dict.streamLength)
        PdfCrypto.rc4InPlace(
          PdfCrypto.objectKey(globalEncryptionKey, dict.objectId.get),
          copy, 0, copy.length)
        dict.decryptedStream = copy
      }
      srcBuf = dict.decryptedStream
      srcOff = 0
      srcLen = dict.decryptedStream.length
    }
    filter match {
      case StreamFilter.None =>
        streamBuf = srcBuf
        streamOff = srcOff
        streamLen = srcLen
        streamIdx = 0
      case StreamFilter.FlateDecode =>
        // skip the 2-byte zlib header and inflate the raw deflate payload
        val inflater = buffers.inflater
        inflater.reset()
        inflater.setInput(srcBuf, srcOff + 2, srcLen - 2)
        var total = 0
        var finished = false
        while (!finished) {
          val n = inflater.inflate(buffers.inflateBuf, total, buffers.inflateBuf.length - total)
          total += n
          if (inflater.finished() || inflater.needsDictionary() || (n == 0 && inflater.needsInput())) finished = true
          else if (total == buffers.inflateBuf.length) {
            if (buffers.inflateBuf.length >= buffers.maxInflateBytes)
              throw streamException(s"Reading stream, internal $total bytes buffer overflow.")
            buffers.inflateBuf = java.util.Arrays.copyOf(
              buffers.inflateBuf,
              math.min(buffers.maxInflateBytes, buffers.inflateBuf.length * 2))
          }
        }
        streamBuf = buffers.inflateBuf
        streamOff = 0
        streamLen = total
        streamIdx = 0
    }
  }

  private[pdf] def decryptString(objectId: ObjectId, encrypted: String): String = {
    val data = new Array[Byte](encrypted.length)
    var i = 0
    while (i < encrypted.length) { data(i) = encrypted.charAt(i).toByte; i += 1 }
    PdfCrypto.rc4InPlace(PdfCrypto.objectKey(globalEncryptionKey, objectId), data, 0, data.length)
    // ASCII decode: non-ASCII bytes become '?', matching .NET's ASCII
    // decoder used by the reference (Tokeniser.cs:1859)
    new String(data.map(b => if ((b & 0xff) > 0x7f) '?' else (b & 0xff).toChar))
  }

  /** PNG Up predictor, the only one supported (reference: Tokeniser.cs:2192-2215). */
  private[pdf] def applyPredictorUp(bytesPerRow: Int): Unit = {
    val rowCount = streamLen / (bytesPerRow + 1)
    val filtered = new Array[Byte](rowCount * bytesPerRow)
    if (streamBuf(streamOff) != 2)
      throw streamException(s"Pdf stream, ApplyPredictorUp(): Filter type 2: Up expected, but was ${streamBuf(streamOff)}.")
    var src = 1
    var dst = 0
    while (dst < bytesPerRow) {
      filtered(dst) = streamBuf(streamOff + src)
      src += 1; dst += 1
    }
    var row = 1
    while (row < rowCount) {
      if (streamBuf(streamOff + src) != 2)
        throw streamException(s"Pdf stream, ApplyPredictorUp(): Filter type 2: Up expected, but was ${streamBuf(streamOff + src)}.")
      src += 1
      var col = 0
      while (col < bytesPerRow) {
        filtered(dst) = (filtered(dst - bytesPerRow) + streamBuf(streamOff + src)).toByte
        src += 1; dst += 1; col += 1
      }
      row += 1
    }
    streamBuf = filtered
    streamOff = 0
    streamLen = filtered.length
    streamIdx = 0
  }

  // ------------------------------------------------ content-stream cursor

  @inline private def sByte(i: Int): Byte = streamBuf(streamOff + i)

  /** Stream-cursor whitespace/comment skip; returns false at end of stream
    * (reference: Tokeniser.cs:1903-1934; the reference's comment branch
    * advances the wrong cursor — fixed to the evident intent here). */
  private def streamSkipWhiteSpace(): Boolean = {
    while (true) {
      if (streamIdx >= streamLen) return false
      var b = sByte(streamIdx)
      while (b == '%') {
        do { streamIdx += 1; b = sByte(streamIdx) } while (b != LF && b != CR)
        if (b == CR && sByte(streamIdx + 1) == LF) streamIdx += 1
        streamIdx += 1; b = sByte(streamIdx)
      }
      if (isWhiteByte(b)) streamIdx += 1
      else return true
    }
    false // unreachable
  }

  /** Skip one operand: string/hex/name/number/bool (reference: Tokeniser.cs:1937-1990). */
  def skipStreamArgument(): Unit = {
    streamSkipWhiteSpace()
    val b0 = sByte(streamIdx); streamIdx += 1
    if (b0 == '(') {
      var done = false
      while (!done) {
        streamIdx += 1
        var bracketsCount = 1
        var b = sByte(streamIdx)
        var inner = true
        while (inner) {
          if (b == '\\') { streamIdx += 1; b = sByte(streamIdx) }
          else {
            if (b == '(') bracketsCount += 1
            else if (b == ')') {
              bracketsCount -= 1
              if (bracketsCount == 0) inner = false
            }
          }
          if (inner) { streamIdx += 1; b = sByte(streamIdx) }
        }
        if (isWhiteSpaceByte(sByte(streamIdx))) done = true
      }
      streamIdx += 1
    } else if (b0 == '<') {
      while (sByte(streamIdx) != '>') streamIdx += 1
      streamIdx += 1
    } else {
      while (!isWhiteSpaceByte(sByte(streamIdx))) streamIdx += 1
    }
  }

  private def skipNumber(): Unit = {
    var b = sByte(streamIdx)
    while ((b >= '0' && b <= '9') || b == '.') { streamIdx += 1; b = sByte(streamIdx) }
  }

  private def skipName(): Unit =
    while (!isDelimiter(sByte(streamIdx))) streamIdx += 1

  private def skipHexString(): Unit = {
    var b: Byte = 0
    do { b = sByte(streamIdx); streamIdx += 1 } while (b != '>')
  }

  private def skipLiteralString(): Unit = {
    var bracketsCount = 1
    if (streamIdx >= streamLen) return
    var b = sByte(streamIdx); streamIdx += 1
    var done = false
    while (!done) {
      if (b == '\\') streamIdx += 1
      else {
        if (b == '(') bracketsCount += 1
        else if (b == ')') {
          bracketsCount -= 1
          if (bracketsCount == 0) done = true
        }
      }
      if (!done) {
        if (streamIdx >= streamLen) return
        b = sByte(streamIdx); streamIdx += 1
      }
    }
  }

  private def skipArray(): Unit = {
    var done = false
    while (!done) {
      val b = sByte(streamIdx); streamIdx += 1
      if (b == ']') done = true
      else if (b == '<') {
        val b2 = sByte(streamIdx); streamIdx += 1
        if (b2 == '<') skipDictionary()
        else { streamIdx -= 1; skipHexString() }
      } else if (b == '[') skipArray()
      else if (b == '(') skipLiteralString()
    }
  }

  private def skipDictionary(): Unit = {
    var done = false
    while (!done) {
      val b = sByte(streamIdx); streamIdx += 1
      if (b == '<') {
        val b2 = sByte(streamIdx); streamIdx += 1
        if (b2 == '<') skipDictionary()
        else { streamIdx -= 1; skipHexString() }
      } else if (b == '>') {
        val b2 = sByte(streamIdx); streamIdx += 1
        if (b2 == '>') done = true
        else throw streamException("Stream: expected '>>'.")
      } else if (b == '[') skipArray()
      else if (b == '(') skipLiteralString()
    }
  }

  /** Scan to the next operator, skipping (but remembering the start of) its
    * leading operands; optionally search for a specific operator
    * (reference: Tokeniser.cs:2218-2288). Returns null at end of stream. */
  def getStreamOpCode(searchCode: String = null): String = {
    var startOpCode = 0
    var found = false
    while (!found) {
      if (!streamSkipWhiteSpace()) return null
      if (argumentsStartIndex == streamIdx)
        throw streamException("Endless loop: Trying to process the same op code again.")
      argumentsStartIndex = streamIdx
      var b: Byte = 0
      var operandLoop = true
      while (operandLoop) {
        b = sByte(streamIdx); streamIdx += 1
        if (b == '/') skipName()
        else if (b == '<') {
          val b2 = sByte(streamIdx); streamIdx += 1
          if (b2 == '<') skipDictionary()
          else { streamIdx -= 1; skipHexString() }
        } else if (b == '(') skipLiteralString()
        else if (b == '[') skipArray()
        else if ((b >= '0' && b <= '9') || b == '-' || b == '.' || b == '+') skipNumber()
        else if (b == 't' && sByte(streamIdx) == 'r' && sByte(streamIdx + 1) == 'u' && sByte(streamIdx + 2) == 'e')
          streamIdx += 3
        else if (b == 'f' && sByte(streamIdx) == 'a' && sByte(streamIdx + 1) == 'l' && sByte(streamIdx + 2) == 's' && sByte(streamIdx + 3) == 'e')
          streamIdx += 4
        else operandLoop = false
        if (operandLoop && !streamSkipWhiteSpace()) return null
      }
      streamIdx -= 1
      startOpCode = streamIdx
      var bb = b
      var scanning = true
      while (scanning && !isDelimiter(bb)) {
        streamIdx += 1
        if (streamIdx >= streamLen) scanning = false
        else bb = sByte(streamIdx)
      }
      if (searchCode == null) found = true
      else if (streamIdx - startOpCode == searchCode.length) {
        var i = 0
        while (i < searchCode.length && searchCode.charAt(i) == sByte(startOpCode + i)) i += 1
        if (i == searchCode.length) found = true
      }
    }
    internedOpCode(startOpCode, streamIdx - startOpCode)
  }

  /** Operator-name lookup without a per-op String allocation: the content
    * interpreter runs this once per operator on every page of 10^12 docs,
    * and the alphabet of 1-2 byte operators is tiny. Unknown/longer names
    * fall back to a fresh String. */
  private def internedOpCode(start: Int, len: Int): String = {
    if (len == 1) {
      (sByte(start): @scala.annotation.switch) match {
        case 'q'  => "q"
        case 'Q'  => "Q"
        case 'W'  => "W"
        case 'n'  => "n"
        case 'f'  => "f"
        case 'S'  => "S"
        case 's'  => "s"
        case 'B'  => "B"
        case 'b'  => "b"
        case 'g'  => "g"
        case 'G'  => "G"
        case 'h'  => "h"
        case 'l'  => "l"
        case 'm'  => "m"
        case 'c'  => "c"
        case 'v'  => "v"
        case 'y'  => "y"
        case '\'' => "'"
        case '"'  => "\""
        case _ => new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    } else if (len == 2) {
      val a = sByte(start); val b = sByte(start + 1)
      (a: @scala.annotation.switch) match {
        case 'T' => (b: @scala.annotation.switch) match {
          case 'j' => "Tj"
          case 'J' => "TJ"
          case 'f' => "Tf"
          case 'd' => "Td"
          case 'D' => "TD"
          case '*' => "T*"
          case 'm' => "Tm"
          case 'L' => "TL"
          case 'c' => "Tc"
          case 'w' => "Tw"
          case 'z' => "Tz"
          case 's' => "Ts"
          case 'r' => "Tr"
          case _   => new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        }
        case 'B' => if (b == 'T') "BT" else if (b == 'I') "BI" else if (b == 'X') "BX"
          else new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        case 'E' => if (b == 'T') "ET" else if (b == 'I') "EI" else if (b == 'X') "EX"
          else new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        case 'r' => if (b == 'e') "re" else if (b == 'g') "rg" else if (b == 'i') "ri"
          else new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        case 'c' => if (b == 'm') "cm" else if (b == 's') "cs"
          else new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        case 'g' => if (b == 's') "gs"
          else new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        case 'R' => if (b == 'G') "RG"
          else new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        case _ => new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    } else {
      new String(streamBuf, streamOff + start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }

  private var streamMarkIndex: Int = -1
  def setStreamMark(): Unit = streamMarkIndex = streamIdx
  /** reference: Tokeniser.cs:2299-2308 */
  def getStreamMarkedText(): String = {
    if (streamMarkIndex < 0 || streamMarkIndex > streamIdx) throw new IllegalStateException
    sb.setLength(0)
    var i = streamMarkIndex
    while (i < streamIdx) { sb.append((sByte(i) & 0xff).toChar); i += 1 }
    sb.toString
  }

  /** reference: Tokeniser.cs:2311-2325 */
  def getStreamName(): String = {
    sb.setLength(0)
    var b = sByte(streamIdx); streamIdx += 1
    if (b != '/') throw streamException("Stream: Name should have a leading '/'.")
    b = sByte(streamIdx)
    while (!isDelimiter(b)) {
      sb.append((b & 0xff).toChar)
      streamIdx += 1
      b = sByte(streamIdx)
    }
    sb.toString
  }

  private var previousStreamIndex: Int = 0
  /** Rewind to re-read the operands of the operator just scanned
    * (reference: Tokeniser.cs:2331-2339). */
  def startStreamArgumentReading(): Unit = { previousStreamIndex = streamIdx; streamIdx = argumentsStartIndex }
  def endStreamArgumentReading(): Unit = streamIdx = previousStreamIndex

  private var fragmentStartIndex: Int = 0
  def markStreamStartOfTextFragment(): Unit = fragmentStartIndex = streamIdx
  /** Raw bytes of the BT..ET region minus the trailing "ET", 1:1 as chars
    * (reference: Tokeniser.cs:2350-2357). */
  def getStreamTextFragment(): String = {
    sb.setLength(0)
    val endIndex = streamIdx - 2
    var i = fragmentStartIndex
    while (i < endIndex) { sb.append((sByte(i) & 0xff).toChar); i += 1 }
    fragmentStartIndex = endIndex
    sb.toString
  }

  /** Decode one shown string (literal or hex) through the font's 8-bit table
    * (reference: Tokeniser.cs:2360-2472) into the shared scratch builder and
    * return it as a CharSequence — valid only until the next tokeniser
    * call. Appending `scratch` into a target StringBuilder copies chars
    * without materialising an intermediate String (hot path: one shown
    * string per show op on 10^12 docs). Decode errors throw BEFORE the
    * caller appends, preserving the reference's no-partial-text semantics. */
  def getStreamStringScratch(font: PdfFont): CharSequence = {
    sb.setLength(0)
    readStreamStringInto(font)
    sb
  }

  private def appendDecoded(ch0: Char, font: PdfFont): Unit = {
    var ch = ch0
    if (font != null && font.encoding8Bit != null) ch = font.encoding8Bit(ch)
    sb.append(ch)
  }

  private def readStreamStringInto(font: PdfFont): Unit = {
    var b = sByte(streamIdx); streamIdx += 1
    if (b == '<') {
      b = sByte(streamIdx); streamIdx += 1
      while (b != '>') {
        var charNumber = 0
        var i = 0
        while (i < 2) {
          while (isWhiteSpaceByte(b)) { b = sByte(streamIdx); streamIdx += 1 }
          if (b >= '0' && b <= '9') charNumber += b - '0'
          else if (b >= 'A' && b <= 'F') charNumber += b - 'A' + 10
          else if (b >= 'a' && b <= 'f') charNumber += b - 'a' + 10
          else throw streamException("Stream content: Invalid character in Hex string.")
          if (i < 1) charNumber *= 16
          b = sByte(streamIdx); streamIdx += 1
          i += 1
        }
        appendDecoded(charNumber.toChar, font)
      }
    } else if (b == '(') {
      var bracketsCount = 1
      b = sByte(streamIdx); streamIdx += 1
      var done = false
      while (!done) {
        if (b == '\\') {
          b = sByte(streamIdx); streamIdx += 1
          if (b >= '0' && b <= '7') {
            // octal escape, at most 3 digits (reference: Tokeniser.cs:2402-2416)
            var chNumber = 0
            var digitsCount = 0
            var oct = true
            while (oct) {
              chNumber += b - '0'
              b = sByte(streamIdx); streamIdx += 1
              if (b < '0' || b > '7') oct = false
              else if (digitsCount == 2) oct = false
              else { digitsCount += 1; chNumber *= 8 }
            }
            appendDecoded(chNumber.toChar, font)
          } else if (b == 0xa) {
            b = sByte(streamIdx); streamIdx += 1
          } else if (b == 0xd) {
            b = sByte(streamIdx); streamIdx += 1
          } else {
            val ch: Char = b match {
              case 'n'  => 0xa.toChar
              case 'r'  => 0xd.toChar
              case 't'  => 0x9.toChar
              case 'b'  => 0x8.toChar
              case 'f'  => 0xc.toChar
              case '('  => '('
              case ')'  => ')'
              case '\\' => '\\'
              case _    => throw streamException("Illegal character after '/' in stream string.")
            }
            appendDecoded(ch, font)
            b = sByte(streamIdx); streamIdx += 1
          }
        } else {
          if (b == '(') bracketsCount += 1
          else if (b == ')') {
            bracketsCount -= 1
            if (bracketsCount == 0) done = true
          }
          if (!done) {
            appendDecoded((b & 0xff).toChar, font)
            b = sByte(streamIdx); streamIdx += 1
          }
        }
      }
    } else throw streamException("A string in a stream should start with '<' or '('.")
  }

  /** `[ (A) -120 (B) ] TJ`: concatenate the strings, discard kerning numbers
    * (reference: Tokeniser.cs:2475-2490). */
  def getStreamArrayString(font: PdfFont): String =
    getStreamArrayStringScratch(font).toString

  /** Scratch variant of [[getStreamArrayString]] (same contract as
    * [[getStreamStringScratch]]). */
  def getStreamArrayStringScratch(font: PdfFont): CharSequence = {
    sb.setLength(0)
    var b = sByte(streamIdx); streamIdx += 1
    if (b != '[') throw streamException("Read string array in stream, '[' expected.")
    var done = false
    while (!done) {
      b = sByte(streamIdx); streamIdx += 1
      if (b == '(' || b == '<') {
        streamIdx -= 1
        readStreamStringInto(font)
        b = sByte(streamIdx); streamIdx += 1
      }
      if (b == ']') done = true
    }
    sb
  }

  /** Integer reader that STOPS at '.' — the reference's `Tm` matrix quirk
    * depends on this (reference: Tokeniser.cs:2493-2514). */
  def getStreamInt(): Int = {
    var sign = 1
    var value = 0
    streamSkipWhiteSpace()
    var b = sByte(streamIdx); streamIdx += 1
    if (b == '+') { b = sByte(streamIdx); streamIdx += 1 }
    else if (b == '-') { sign = -1; b = sByte(streamIdx); streamIdx += 1 }
    while (b >= '0' && b <= '9') {
      value = 10 * value + b - '0'
      b = sByte(streamIdx); streamIdx += 1
    }
    sign * value
  }

  /** reference: Tokeniser.cs:2517-2551 */
  def getStreamNumber(): JBigDecimal = {
    var sign = 1
    var value = JBigDecimal.ZERO
    var divider: JBigDecimal = null
    streamSkipWhiteSpace()
    var b = sByte(streamIdx); streamIdx += 1
    if (b == '+') { b = sByte(streamIdx); streamIdx += 1 }
    else if (b == '-') { sign = -1; b = sByte(streamIdx); streamIdx += 1 }
    var done = false
    while (!done) {
      if (b >= '0' && b <= '9') {
        if (divider == null) value = value.multiply(TEN).add(JBigDecimal.valueOf(b - '0'))
        else { value = value.add(JBigDecimal.valueOf(b - '0').divide(divider)); divider = divider.multiply(TEN) }
      } else if (b == '.') {
        if (divider != null) throw streamException("Reading number error: Second decimal point found.")
        divider = TEN
      } else done = true
      if (!done) { b = sByte(streamIdx); streamIdx += 1 }
    }
    if (sign < 0) value.negate() else value
  }

  /** 2-hex-digit character id `<1A>` (reference: Tokeniser.cs:2557-2587). */
  def getStreamCid(): Int = {
    var value = 0
    streamSkipWhiteSpace()
    var b = sByte(streamIdx); streamIdx += 1
    if (b != '<')
      throw streamException("Hexadecimal integer expected in the form of '<1A>', but leading '<' was missing.")
    b = sByte(streamIdx); streamIdx += 1
    var done = false
    while (!done) {
      if (b >= '0' && b <= '9') value = 16 * value + b - '0'
      else if (b >= 'A' && b <= 'F') value = 16 * value + b - 'A' + 10
      else if (b >= 'a' && b <= 'f') value = 16 * value + b - 'a' + 10
      else done = true
      if (!done) { b = sByte(streamIdx); streamIdx += 1 }
    }
    if (b != '>')
      throw streamException("Character IDentifier CID expected in the form of '<1A>', but leading '<' was missing.")
    if (value < 0 || value > 0xff)
      throw streamException("Reading Character IDentifier CID from stream, should have only 2 hex digits.")
    value
  }

  /** 4-hex-digit unicode `<89AB>`; multi-char ligature sequences are packed
    * back to the single ligature codepoint (reference: Tokeniser.cs:2593-2657). */
  def getStreamUnicode(): Int = {
    var value = 0
    streamSkipWhiteSpace()
    var b = sByte(streamIdx); streamIdx += 1
    if (b != '<')
      throw streamException("Hexadecimal integer expected in the form of '<89AB>', but leading '<' was missing.")
    b = sByte(streamIdx); streamIdx += 1
    var digitsCount = 0
    var done = false
    while (!done) {
      if (b >= '0' && b <= '9') value = 16 * value + b - '0'
      else if (b >= 'A' && b <= 'F') value = 16 * value + b - 'A' + 10
      else if (b >= 'a' && b <= 'f') value = 16 * value + b - 'a' + 10
      else done = true
      if (!done) {
        b = sByte(streamIdx); streamIdx += 1
        digitsCount += 1
        if (digitsCount > 3 && b != '>') {
          var packed = false
          if (value == 'f' &&
              b == '0' && sByte(streamIdx) == '0' && sByte(streamIdx + 1) == '6' && sByte(streamIdx + 2) == '6') {
            if (sByte(streamIdx + 3) == '>') {
              value = 'ﬀ'; streamIdx += 3; b = sByte(streamIdx); streamIdx += 1
              packed = true; done = true
            } else if (sByte(streamIdx + 3) == '0' && sByte(streamIdx + 4) == '0' && sByte(streamIdx + 5) == '6' &&
                sByte(streamIdx + 6) == '9' && sByte(streamIdx + 7) == '>') {
              value = 'ﬃ'; streamIdx += 7; b = sByte(streamIdx); streamIdx += 1
              packed = true; done = true
            } else if (sByte(streamIdx + 3) == '0' && sByte(streamIdx + 4) == '0' && sByte(streamIdx + 5) == '6' &&
                sByte(streamIdx + 6) == 'C' && sByte(streamIdx + 7) == '>') {
              value = 'ﬄ'; streamIdx += 7; b = sByte(streamIdx); streamIdx += 1
              packed = true; done = true
            }
          }
          if (!packed)
            throw streamException("Reading Unicode for Character IDentifier CID from stream, should have only 4 hex digits.")
        }
      }
    }
    if (b != '>')
      throw streamException("Hexadecimal integer expected in the form of '<89AB>', but leading '<' was missing.")
    if (value < 0 || value > 0xffff)
      throw streamException(f"Illegal hexadecimal integer value '$value%X'.")
    value
  }

  /** `BI … ID … EI` inline image: scan for the delimited `EI`
    * (reference: Tokeniser.cs:2106-2138). */
  def contentStreamSkipInlineImage(): Unit = {
    val opCode = getStreamOpCode()
    if (opCode == null || opCode != "ID")
      throw streamException("Content Stream: Inline image operator 'BI' should be followed by 'ID'.")
    var done = false
    while (!done) {
      val b = sByte(streamIdx); streamIdx += 1
      if (b == 'E' && sByte(streamIdx) == 'I' && isDelimiter(sByte(streamIdx + 1))) {
        streamIdx += 1
        done = true
      }
    }
  }

  /** `x y w h re W n` clipping rectangle — parsed but unused for text output
    * (reference: Tokeniser.cs:2141-2158). */
  def contentStreamGetClippingRegion(): Boolean = {
    try {
      if (streamIdx + 3 >= streamLen || sByte(streamIdx + 1) != 'W' || sByte(streamIdx + 3) != 'n') return false
      startStreamArgumentReading()
      getStreamNumber(); getStreamNumber(); getStreamNumber(); getStreamNumber()
      endStreamArgumentReading()
      true
    } catch {
      case _: Exception => false
    }
  }
}
