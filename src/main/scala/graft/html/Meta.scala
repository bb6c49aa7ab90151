package graft.html

/** Head metadata of a web page: the dedup/curation signals a corpus
  * pipeline reads before (or instead of) the body — the canonical URL is a
  * stronger dedup key than any URL heuristic, the robots directives gate
  * whether a page may be kept at all, and description/og fields are
  * document-level summaries. ADDITIVE surface: the reference has no HTML
  * code; this module follows the HTML5 parsing rules for attributes
  * (quoted/unquoted values, any order, case-insensitive names, character
  * references decoded in values). */
final case class HtmlMeta(
    canonical: String,      // <link rel="canonical" href=…>, "" when absent
    description: String,    // <meta name="description" content=…>
    ogTitle: String,        // <meta property="og:title" content=…>
    ogDescription: String,  // <meta property="og:description" content=…>
    noindex: Boolean,       // <meta name="robots"> content token
    nofollow: Boolean)

object Meta {

  /** Scan `<meta>` and `<link>` tags (first occurrence wins per field, as
    * browsers resolve duplicates) over the whole page — malformed pages
    * put head tags after `<body>` often enough that stopping at `</head>`
    * loses real metadata. Hardened like [[Boilerplate]]'s scanner:
    * comments/CDATA are skipped (commented-out stale metadata must not
    * latch), raw-text/RCDATA bodies (`script`/`style`/`title`/`textarea`)
    * are skipped with CASE-INSENSITIVE close matching, and every other
    * tag's attributes are consumed quote-aware — so markup-looking text
    * inside attribute values or RCDATA can't forge metadata. */
  def extract(html: String): HtmlMeta = {
    var canonical, description, ogTitle, ogDescription: String = null
    var noindex = false
    var nofollow = false
    walkTags(html) { (name, a) =>
      name match {
        case "meta" =>
          // meta names/properties are case-insensitive in the wild
          val key = a.getOrElse("name", a.getOrElse("property", "")).toLowerCase
          val content = a.getOrElse("content", "")
          key match {
            case "description"    => if (description == null) description = content
            case "og:title"       => if (ogTitle == null) ogTitle = content
            case "og:description" => if (ogDescription == null) ogDescription = content
            case "robots" =>
              val tokens = content.toLowerCase.split("[,\\s]+")
              if (tokens.contains("noindex") || tokens.contains("none")) noindex = true
              if (tokens.contains("nofollow") || tokens.contains("none")) nofollow = true
            case _ =>
          }
        case "link" =>
          // rel is a space-separated TOKEN LIST (rel="canonical alternate")
          val isCanonical = a.getOrElse("rel", "")
            .split("\\s+").exists(_.equalsIgnoreCase("canonical"))
          if (isCanonical && canonical == null)
            a.get("href").foreach(h => canonical = h)
        case _ =>
      }
    }
    HtmlMeta(
      canonical = Option(canonical).getOrElse(""),
      description = Option(description).getOrElse(""),
      ogTitle = Option(ogTitle).getOrElse(""),
      ogDescription = Option(ogDescription).getOrElse(""),
      noindex = noindex,
      nofollow = nofollow)
  }

  def extract(bytes: Array[Byte]): HtmlMeta = extract(Boilerplate.decode(bytes))

  /** Tag-event walk shared by [[Meta]] and [[Links]] — the ONE copy of the
    * hardened scanner rules: comments and CDATA sections skipped,
    * raw-text/RCDATA bodies (`script`/`style`/`title`/`textarea`) skipped
    * with case-insensitive close matching (the body is text, not markup),
    * every tag's attributes consumed quote-aware per HTML5 (markup-looking
    * text inside attribute values or RCDATA can't forge tags). `onTag`
    * fires once per real open tag with the lowercased name and first-wins
    * attribute map; a scanner hardening fix lands here once for every
    * consumer. */
  private[html] def walkTags(html: String)(onTag: (String, Map[String, String]) => Unit): Unit =
    walkTagsAt(html)((name, a, _, _) => onTag(name, a))

  /** Offset-aware variant of [[walkTags]]: `onTag(name, attrs, tagStart,
    * afterTag)` where `tagStart` is the index of the tag's `<` and
    * `afterTag` the index just after its closing `>` (for raw-text tags,
    * after the OPEN tag — the skipped body follows). Close tags surface as
    * `"/name"` with empty attributes; the (tagStart, afterTag) pairs let
    * [[Links.extractAnchors]] slice element inner text without a second
    * scanner. */
  private[html] def walkTagsAt(html: String)(
      onTag: (String, Map[String, String], Int, Int) => Unit): Unit = {
    var i = 0
    val n = html.length
    while (i < n) {
      if (html.charAt(i) == '<') {
        if (html.startsWith("<!--", i)) {
          val close = html.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else if (html.startsWith("<![CDATA[", i)) {
          val close = html.indexOf("]]>", i + 9)
          i = if (close < 0) n else close + 3
        } else {
          val (name, attrEnd) = tagName(html, i + 1)
          if (name.isEmpty) i += 1 // stray '<' in text
          else {
            val (a, next) = attrs(html, attrEnd)
            onTag(name, a, i, next)
            name match {
              case "script" | "style" | "title" | "textarea" =>
                val close = indexOfIgnoreCase(html, "</" + name, next)
                i = if (close < 0) n else close + 2 + name.length
              case _ => i = next
            }
          }
        }
      } else i += 1
    }
  }

  private[html] def indexOfIgnoreCase(html: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = html.length - needle.length
    while (i <= last) {
      if (html.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** (lowercased tag name, index of the first char after it). */
  private[html] def tagName(html: String, from: Int): (String, Int) = {
    var i = from
    val n = html.length
    val sb = new java.lang.StringBuilder(8)
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '!' || html.charAt(i) == '/')) {
      sb.append(Character.toLowerCase(html.charAt(i)))
      i += 1
    }
    (sb.toString, i)
  }

  /** HTML5-rules attribute scan from `from` (just after the tag name) to
    * the closing '>': names case-folded, `=` optional, values single-,
    * double- or un-quoted, character references decoded in values, and
    * DUPLICATE attributes resolve first-wins (HTML5 ignores the repeat;
    * a Map overwrite would take the last). Returns (attributes, index
    * after '>'). */
  private[html] def attrs(html: String, from: Int): (Map[String, String], Int) = {
    var out = Map.empty[String, String]
    var i = from
    val n = html.length
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    def put(name: String, value: String): Unit =
      if (name.nonEmpty && !out.contains(name)) out = out.updated(name, value)
    while (i < n && html.charAt(i) != '>') {
      while (i < n && (ws(html.charAt(i)) || html.charAt(i) == '/')) i += 1
      if (i < n && html.charAt(i) != '>') {
        val nameStart = i
        while (i < n && !ws(html.charAt(i)) && html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/')
          i += 1
        val name = html.substring(nameStart, i).toLowerCase
        while (i < n && ws(html.charAt(i))) i += 1
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && ws(html.charAt(i))) i += 1
          val sb = new java.lang.StringBuilder(16)
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i); i += 1
            while (i < n && html.charAt(i) != q) i = appendDecoded(html, i, sb)
            if (i < n) i += 1 // closing quote
          } else {
            while (i < n && !ws(html.charAt(i)) && html.charAt(i) != '>') i = appendDecoded(html, i, sb)
          }
          put(name, sb.toString)
        } else put(name, "")
      }
    }
    (out, if (i < n) i + 1 else n)
  }

  private def appendDecoded(html: String, i: Int, sb: java.lang.StringBuilder): Int =
    if (html.charAt(i) == '&') {
      val e = Boilerplate.entity(html, i)
      sb.append(Boilerplate.entityChar(e))
      val lo = Boilerplate.entityLow(e)
      if (lo != 0) sb.append(lo)
      Boilerplate.entityNext(e)
    } else {
      sb.append(html.charAt(i))
      i + 1
    }
}
