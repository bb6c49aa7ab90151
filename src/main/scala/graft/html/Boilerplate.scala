package graft.html

import graft.pdf.TextSpan
import scala.collection.mutable

/** One text block between block-level tag boundaries. */
final case class Block(
    text: String,
    words: Int,
    linkedWords: Int,
    title: Boolean,    // the <title> block
    inChrome: Boolean, // inside nav/aside/footer
    srcOffset: Int,    // char offset of the block's first text in the page
    listItem: Boolean = false) { // <li> content: rendered with a "- " marker
  def linkDensity: Double = if (words == 0) 0.0 else linkedWords.toDouble / words
}

final case class HtmlResult(
    title: String,
    text: String,
    spans: Seq[TextSpan],
    blocks: Int,
    contentBlocks: Int)

/** Main-content extraction for HTML pages: a hand-written tag scanner (no
  * DOM library — zero-dependency, allocation-light for 10^12-row scans)
  * feeding a shallow-text-features block classifier.
  *
  * The classifier is the public NumWordsRules decision stump from
  * Kohlschütter, Fankhauser & Nejdl, "Boilerplate Detection using Shallow
  * Text Features" (WSDM 2011): a block is content iff its link density is
  * ≤ 1/3 and the (prev, curr, next) word counts pass the published
  * thresholds. Blocks inside nav/aside/footer containers are always
  * boilerplate (Arc90-readability-style structural prior). This module is
  * NOT derived from the reference — PdfParser contains no HTML code; the
  * heuristics are from the published literature.
  */
object Boilerplate {

  // NOTE: td/th are deliberately NOT block boundaries — cells of one row
  // merge into a single row block separated by " | " (layout text), so a
  // data table's row survives the word-count classifier as a unit instead
  // of shattering into sub-threshold cell fragments.
  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl", "dt", "dd",
    "table", "tr", "thead", "tbody", "article", "section", "main", "header",
    "footer", "nav", "aside", "blockquote", "pre", "form", "fieldset", "figure",
    "figcaption", "hr", "address", "center", "body", "html", "title", "summary", "details")

  private val SkipContentTags: Set[String] = Set("script", "style", "noscript", "template", "svg", "iframe")

  private val ChromeTags: Set[String] = Set("nav", "aside", "footer")

  def extract(htmlBytes: Array[Byte]): HtmlResult =
    extract(decode(htmlBytes))

  /** 1-based line number of char offset `off` in `html` (LF-counted —
    * HTML sources are overwhelmingly LF; CRLF's LF lands on the same line
    * boundary). Binary search over the newline positions from
    * [[newlinePositions]]. */
  def lineOf(nlPositions: Array[Int], off: Int): Int = {
    var lo = 0
    var hi = nlPositions.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (nlPositions(mid) < off) lo = mid + 1 else hi = mid
    }
    lo + 1
  }

  def newlinePositions(html: String): Array[Int] = {
    val b = Array.newBuilder[Int]
    var i = 0
    while (i < html.length) { if (html.charAt(i) == '\n') b += i; i += 1 }
    b.result()
  }

  /** Charset sniff for web payloads: BOM, then a `charset=` declaration in
    * the first 1024 bytes (ASCII-compatible prefix scan), else UTF-8 with
    * replacement — the Common-Crawl-practical subset (UTF-8 dominates;
    * latin-1/windows-1252 is the long tail worth handling exactly). */
  def decode(bytes: Array[Byte]): String = {
    import java.nio.charset.StandardCharsets._
    if (bytes.length >= 3 && bytes(0) == 0xef.toByte && bytes(1) == 0xbb.toByte && bytes(2) == 0xbf.toByte)
      return new String(bytes, 3, bytes.length - 3, UTF_8)
    if (bytes.length >= 2 && bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte)
      return new String(bytes, UTF_16BE).stripPrefix("﻿")
    if (bytes.length >= 2 && bytes(0) == 0xff.toByte && bytes(1) == 0xfe.toByte)
      return new String(bytes, UTF_16LE).stripPrefix("﻿")
    val head = new String(bytes, 0, math.min(1024, bytes.length), ISO_8859_1).toLowerCase
    val cs = {
      val i = head.indexOf("charset=")
      if (i < 0) "utf-8"
      else {
        var j = i + 8
        if (j < head.length && (head.charAt(j) == '"' || head.charAt(j) == '\'')) j += 1
        val start = j
        while (j < head.length && (head.charAt(j).isLetterOrDigit || head.charAt(j) == '-' || head.charAt(j) == '_')) j += 1
        head.substring(start, j)
      }
    }
    cs match {
      case "iso-8859-1" | "latin1" | "latin-1" | "windows-1252" | "cp1252" =>
        new String(bytes, ISO_8859_1)
      case "us-ascii" | "ascii" => new String(bytes, US_ASCII)
      case _ => new String(bytes, UTF_8) // incl. declared utf-8 and unknowns
    }
  }

  def extract(html: String): HtmlResult = {
    val blocks = scan(html)
    val title = blocks.find(_.title).map(_.text).getOrElse("")
    val bodyBlocks = blocks.filterNot(_.title).toIndexedSeq

    val content = classify(bodyBlocks)
    val out = new StringBuilder
    val spans = mutable.ArrayBuffer.empty[TextSpan]
    var kept = 0
    bodyBlocks.indices.foreach { i =>
      if (content(i)) {
        if (out.nonEmpty) out.append('\n')
        val start = out.length
        if (bodyBlocks(i).listItem) out.append("- ") // list layout marker
        out.append(bodyBlocks(i).text)
        spans += TextSpan(start, out.length, bodyBlocks(i).srcOffset,
          if (bodyBlocks(i).listItem) "li" else "block")
        kept += 1
      }
    }
    HtmlResult(title, out.toString, spans.toSeq, bodyBlocks.length, kept)
  }

  /** NumWordsRules decision stump (WSDM 2011, §4.3). */
  private def classify(blocks: IndexedSeq[Block]): IndexedSeq[Boolean] = {
    def words(i: Int): Int = if (i < 0 || i >= blocks.length) 0 else blocks(i).words
    def ld(i: Int): Double = if (i < 0 || i >= blocks.length) 0.0 else blocks(i).linkDensity
    blocks.indices.map { i =>
      val b = blocks(i)
      if (b.inChrome) false
      else if (b.linkDensity > 0.333333) false
      else if (ld(i - 1) <= 0.555556)
        b.words > 16 || words(i + 1) > 15 || words(i - 1) > 4
      else
        b.words > 40 || words(i + 1) > 17
    }
  }

  /** Single forward pass: tags, comments, CDATA, entities → blocks.
    * The <title> block is emitted with `title = true`. */
  private def scan(html: String): Seq[Block] = {
    val blocks = mutable.ArrayBuffer.empty[Block]
    val text = new StringBuilder
    var words = 0
    var linkedWords = 0
    var blockStart = -1
    var chromeDepth = 0
    var anchorDepth = 0
    var inTitle = false
    var skipTag: String = null // inside <script>/<style>/…
    var pendingSpace = false
    var inWord = false
    var listItem = false
    var pendingCellSep = false // " | " owed before the NEXT cell's first char

    def endWord(): Unit = {
      if (inWord) {
        words += 1
        if (anchorDepth > 0) linkedWords += 1
        inWord = false
      }
    }

    def flushBlock(): Unit = {
      endWord()
      // trim trailing space
      while (text.nonEmpty && text.charAt(text.length - 1) == ' ') text.setLength(text.length - 1)
      if (text.nonEmpty) {
        blocks += Block(
          text.toString,
          words,
          linkedWords,
          inTitle,
          chromeDepth > 0,
          blockStart,
          listItem)
      }
      text.setLength(0)
      words = 0
      linkedWords = 0
      blockStart = -1
      pendingSpace = false
      pendingCellSep = false
    }

    def appendChar(c: Char, at: Int): Unit = {
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\u00a0' || c == '\f') {
        if (text.nonEmpty) pendingSpace = true
        endWord()
      } else {
        // the separator is owed only once the next cell actually contributes
        // text \u2014 an empty trailing <td></td> must not leave a dangling " |"
        if (pendingCellSep) { text.append(" |"); pendingCellSep = false; pendingSpace = true }
        if (pendingSpace) { text.append(' '); pendingSpace = false }
        if (blockStart < 0) blockStart = at
        text.append(c)
        inWord = true
      }
    }

    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (i + 3 < n && html.charAt(i + 1) == '!' && html.charAt(i + 2) == '-' && html.charAt(i + 3) == '-') {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 8 < n && html.regionMatches(true, i + 1, "![CDATA[", 0, 8)) {
          val end = html.indexOf("]]>", i + 9)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          val end = html.indexOf('>', i + 1)
          i = if (end < 0) n else end + 1
        } else {
          val closing = i + 1 < n && html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          // quote-aware tag end: '>' inside a quoted attribute value
          // (href="a>b") must not terminate the tag
          var end = -1
          var k = j
          var quote: Char = 0
          while (end < 0 && k < n) {
            val ck = html.charAt(k)
            if (quote != 0) { if (ck == quote) quote = 0 }
            else if (ck == '"' || ck == '\'') quote = ck
            else if (ck == '>') end = k
            k += 1
          }
          val tagEnd = if (end < 0) n else end + 1
          val selfClosed = end > 0 && html.charAt(end - 1) == '/'

          if (skipTag != null) {
            if (closing && name == skipTag) skipTag = null
            i = tagEnd
          } else if (name.isEmpty) {
            // stray '<' — treat as text
            appendChar('<', i)
            i += 1
          } else {
            if (!closing && SkipContentTags.contains(name) && !selfClosed) skipTag = name
            else if (name == "a") {
              endWord() // a word ends at the anchor boundary so it counts as linked
              if (closing) anchorDepth = math.max(0, anchorDepth - 1) else if (!selfClosed) anchorDepth += 1
            } else if (name == "br") {
              pendingSpace = true
              endWord()
            } else if (name == "td" || name == "th") {
              // cell boundary inside a row block: " | " layout separator,
              // deferred until the new cell produces text (the pipe is
              // punctuation, not a word — appended outside word counting)
              endWord()
              if (!closing && text.nonEmpty) pendingCellSep = true
            }
            if (BlockTags.contains(name)) {
              flushBlock()
              // the marker flag belongs to the block being OPENED: any other
              // block boundary (incl. a missing </li>) clears it
              listItem = name == "li" && !closing
              if (name == "title") inTitle = !closing
              if (ChromeTags.contains(name)) {
                if (closing) chromeDepth = math.max(0, chromeDepth - 1)
                else if (!selfClosed) chromeDepth += 1
              }
            }
            i = tagEnd
          }
        }
      } else if (c == '&' && skipTag == null) {
        val e = entity(html, i)
        appendChar(entityChar(e), i)
        if (entityLow(e) != 0) appendChar(entityLow(e), i) // low surrogate of an astral codepoint
        i = entityNext(e)
      } else {
        if (skipTag == null) appendChar(c, i)
        i += 1
      }
    }
    flushBlock()
    blocks.toSeq
  }

  /** Entity decoder: the full HTML 4.01 named table ([[Entities]], 252
    * names + apos) plus numeric references (decimal/hex, incl. astral
    * codepoints as surrogate pairs). An unrecognized body falls back to a
    * literal '&'. */
  // longest body we ever accept: the longest named entity or a numeric
  // reference like #x10ffff (8 chars) — derived from the table, not a magic
  // number, so a longer entity added there is automatically scanned
  private val MaxEntityBody = math.max(Entities.maxNameLength, 8)

  /** Decode the entity starting at `html(i) == '&'`, packed into one Long
    * so a numeric reference allocates nothing: read it with
    * [[entityChar]], [[entityLow]] (low surrogate, or 0) and [[entityNext]]
    * (next index). The terminating ';' is looked for within
    * `MaxEntityBody + 1` chars only, so a page of unterminated '&'s stays
    * linear; numeric bodies parse in place with the sign and overflow rules
    * of `Integer.parseInt`, and only a body not starting with '#' is looked
    * up by name. */
  private[graft] def entity(html: String, i: Int): Long = {
    val from = i + 1
    val limit = math.min(html.length, from + MaxEntityBody + 1)
    var semi = from
    while (semi < limit && html.charAt(semi) != ';') semi += 1
    if (semi == limit) return packEntity('&', 0, from)
    val cp =
      if (semi > from && html.charAt(from) == '#') {
        val hex = semi > from + 1 && (html.charAt(from + 1) | 0x20) == 'x'
        try Integer.parseInt(html, if (hex) from + 2 else from + 1, semi, if (hex) 16 else 10)
        catch { case _: NumberFormatException => -1 }
      } else Entities.table.get(html.substring(from, semi)).fold(-1)(_.toInt)
    if (cp < 0 || cp > 0x10ffff) packEntity('&', 0, from)
    else if (cp > 0xffff) packEntity(Character.highSurrogate(cp), Character.lowSurrogate(cp), semi + 1)
    else packEntity(cp.toChar, 0, semi + 1)
  }

  private def packEntity(c: Char, low: Char, next: Int): Long =
    (next.toLong << 32) | (c.toLong << 16) | low.toLong

  private[graft] def entityChar(e: Long): Char = (e >>> 16).toChar
  private[graft] def entityLow(e: Long): Char = e.toChar
  private[graft] def entityNext(e: Long): Int = (e >>> 32).toInt
}
