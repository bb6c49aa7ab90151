package graft.html

/** Out-link extraction: the edges of the web graph a corpus pipeline feeds
  * into URL frontiers and link-based quality priors (Common-Crawl publishes
  * exactly this as its host/domain graph; ranks computed downstream from it
  * are standard crawl-filtering signals). ADDITIVE
  * surface — the reference has no HTML code.
  *
  * Shares [[Meta]]'s hardened scanner rules: comments/CDATA skipped,
  * raw-text/RCDATA bodies skipped with case-insensitive close, every tag's
  * attributes consumed quote-aware, entities decoded in attribute values. */
object Links {

  /** `<a href>` targets in document order, resolved to absolute URLs.
    *
    *  - a first `<base href>` (HTML5: the FIRST wins) rebases every
    *    subsequent and PRECEDING relative link — per spec the base applies
    *    document-wide, and browsers resolve lazily, so links before the
    *    base tag still use it; this scanner replicates that by collecting
    *    raw hrefs first and resolving after the walk;
    *  - fragments are dropped (`#section` is the same document);
    *  - `javascript:` / `mailto:` / `data:` / `tel:` schemes are not
    *    links to documents and are skipped;
    *  - fragment-only and empty hrefs are skipped. */
  def extract(html: String, pageUrl: String): Seq[String] =
    walkAnchors(html, pageUrl, withText = false).map(_._1)

  def extract(bytes: Array[Byte], pageUrl: String): Seq[String] =
    extract(Boilerplate.decode(bytes), pageUrl)

  /** `(resolved href, anchor text)` pairs in document order — the same
    * edges as [[extract]], each keyed to its element's inner text. The
    * per-TARGET aggregation of these strings (how the rest of the web
    * describes a page — see [[Anchors.profile]]) is a classic relevance /
    * quality / page-description signal (Craswell et al., SIGIR 2001) and a
    * standard training-target surface for retrieval corpora.
    *
    * Href rules are [[extract]]'s (first-wins `<base>` resolved after the
    * walk, http(s) whitelist, fragments dropped). Anchor text is the
    * element's inner text via [[innerText]]. HTML5 forbids nested `<a>` —
    * browsers auto-close the open anchor when the next one opens, and this
    * scanner replicates that; an anchor still open at EOF runs to the end
    * of the document (spec: it would run to the implied `</body>`); an
    * href-less `<a name=…>` is a named target, not a link, so its text is
    * no edge's anchor. */
  def extractAnchors(html: String, pageUrl: String): Seq[(String, String)] =
    walkAnchors(html, pageUrl, withText = true)

  /** One walk body for [[extract]] and [[extractAnchors]] (the two cannot
    * drift), parameterized on whether anchor inner text is materialized —
    * href-only extraction must not pay a second scan + entity decode of
    * every anchor body just to throw the string away. */
  private def walkAnchors(html: String, pageUrl: String,
      withText: Boolean): Seq[(String, String)] = {
    var baseHref: String = null
    val raw = Vector.newBuilder[(String, String)]
    var openHref: String = null
    var textStart = 0
    def closeAt(pos: Int): Unit =
      if (openHref != null) {
        raw += ((openHref, if (withText) innerText(html, textStart, pos) else ""))
        openHref = null
      }
    Meta.walkTagsAt(html) { (name, a, tagStart, afterTag) =>
      name match {
        case "a" =>
          closeAt(tagStart) // HTML5 auto-close: a new <a> ends the open one
          a.get("href").foreach { h => openHref = h; textStart = afterTag }
        case "/a"   => closeAt(tagStart)
        case "base" => if (baseHref == null) a.get("href").foreach(h => baseHref = h)
        case _      =>
      }
    }
    closeAt(html.length)
    val base = if (baseHref == null) pageUrl else resolve(pageUrl, baseHref)
    raw.result().flatMap { case (h, t) => resolveLink(base, h).map(u => (u, t)) }
  }

  def extractAnchors(bytes: Array[Byte], pageUrl: String): Seq[(String, String)] =
    extractAnchors(Boilerplate.decode(bytes), pageUrl)

  /** Text content of `html[from, until)`: tags dropped with the shared
    * quote-aware attribute scan (a `>` inside `href="a>b"` cannot truncate
    * the tag), comments/CDATA and raw-text bodies (`script`/`style`/
    * `title`/`textarea`) skipped, character references decoded, whitespace
    * collapsed to single spaces and trimmed. `<br>` separates words; other
    * tags are transparent (`bo<b>ld</b>` → `bold`) — the same inline-tag
    * convention as [[Boilerplate]]'s block scanner. */
  private[html] def innerText(html: String, from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(32)
    var pendingSpace = false
    def append(c: Char): Unit =
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00a0') {
        if (sb.length > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
    var i = math.max(from, 0)
    val end = math.min(until, html.length)
    while (i < end) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val close = html.indexOf("-->", i + 4)
          i = if (close < 0) end else close + 3
        } else if (html.startsWith("<![CDATA[", i)) {
          val close = html.indexOf("]]>", i + 9)
          i = if (close < 0) end else close + 3
        } else {
          val (name, attrEnd) = Meta.tagName(html, i + 1)
          if (name.isEmpty) { append('<'); i += 1 } // stray '<' is text
          else {
            val (_, next) = Meta.attrs(html, attrEnd)
            // tagName keeps a trailing '/' in the name, so XHTML-style
            // self-closing <br/> arrives as "br/" — strip it or the
            // ubiquitous no-space form glues words ("one<br/>two")
            if (name.stripSuffix("/") == "br" && sb.length > 0) pendingSpace = true
            name match {
              case "script" | "style" | "title" | "textarea" =>
                val close = Meta.indexOfIgnoreCase(html, "</" + name, next)
                // consume through the close tag's '>' — walkTags can leave
                // its trailing '>' to the '<'-only outer loop, but here a
                // leftover '>' would be appended as anchor text
                i = if (close < 0) end
                    else Meta.attrs(html, close + 2 + name.length)._2
              case _ => i = next
            }
          }
        }
      } else if (c == '&') {
        val e = Boilerplate.entity(html, i)
        append(Boilerplate.entityChar(e))
        val lo = Boilerplate.entityLow(e)
        if (lo != 0) sb.append(lo) // low surrogate rides with its pair
        i = Boilerplate.entityNext(e)
      } else { append(c); i += 1 }
    }
    sb.toString
  }

  /** Index of the ':' ending a valid RFC 3986 scheme prefix
    * (ASCII `ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) ":"`), or -1 when
    * the string has no scheme and is a relative reference. ASCII-only on
    * purpose — `Char.isLetter` is Unicode-wide and would accept schemes the
    * grammar forbids. */
  private def schemeEndOf(s: String): Int = {
    val colon = s.indexOf(':')
    def alpha(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    if (colon <= 0 || !alpha(s.charAt(0))) return -1
    var i = 1
    while (i < colon) {
      val c = s.charAt(i)
      if (!(alpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.')) return -1
      i += 1
    }
    colon
  }

  /** One href against the (already absolute) base: None for non-document
    * schemes, fragment-only and empty targets. Scheme handling is a
    * WHITELIST — only http(s) URLs are edges a crawler follows; `about:`,
    * `intent:`, `ftp:`, app schemes etc. would otherwise either pollute the
    * link graph verbatim or (without `://`) be glued onto the base path as
    * garbage path-relative URLs. */
  def resolveLink(base: String, href0: String): Option[String] = {
    val hash = href0.indexOf('#')
    val href = (if (hash >= 0) href0.substring(0, hash) else href0).trim
    if (href.isEmpty) return None
    val colon = schemeEndOf(href)
    if (colon > 0) {
      val scheme = href.substring(0, colon).toLowerCase(java.util.Locale.ROOT)
      if (scheme != "http" && scheme != "https") return None
      return Some(href) // absolute http(s) reference, emitted verbatim
    }
    Some(resolve(base, href))
  }

  /** RFC 3986 §5 reference resolution for the http(s) subset a crawl
    * meets: absolute, protocol-relative (`//host/x`), root-relative
    * (`/x`), path-relative (`x/y`, `../x`, `./x`) and query-only (`?q`)
    * references, with §5.2.4 dot-segment removal. `base` must itself be
    * absolute (`scheme://authority/path`). */
  def resolve(base: String, ref: String): String = {
    // absolute iff it STARTS with a scheme (RFC 3986 §4.3) — a mere
    // "://" substring also matches relative hrefs that embed a URL in
    // their query ("redirect?next=https://other.com/")
    if (schemeEndOf(ref) > 0) return ref
    val schemeEnd = base.indexOf("://")
    if (schemeEnd < 0) return ref                             // unresolvable base
    val scheme = base.substring(0, schemeEnd)
    if (ref.startsWith("//")) return scheme + ":" + ref       // protocol-relative
    val authStart = schemeEnd + 3
    val pathStart = {
      val slash = base.indexOf('/', authStart)
      if (slash < 0) base.length else slash
    }
    val origin = base.substring(0, pathStart)                 // scheme://host[:port]
    val basePathAndQuery = base.substring(pathStart)
    val baseQ = basePathAndQuery.indexOf('?')
    val basePath = if (baseQ < 0) basePathAndQuery else basePathAndQuery.substring(0, baseQ)
    // dot-segment removal applies to the PATH only (§5.2.2 splits the
    // reference first): a '?'-tail rides along untouched, so query values
    // embedding URLs ("?next=https://x/") keep their double slash
    val refQ = ref.indexOf('?')
    val (refPath, refQuery) =
      if (refQ < 0) (ref, "") else (ref.substring(0, refQ), ref.substring(refQ))
    if (ref.startsWith("/")) return origin + removeDotSegments(refPath) + refQuery
    if (ref.startsWith("?"))                                   // query-only
      return origin + (if (basePath.isEmpty) "/" else basePath) + ref
    // path-relative: merge with everything up to the base path's last '/'
    val dir = {
      val lastSlash = basePath.lastIndexOf('/')
      if (lastSlash < 0) "/" else basePath.substring(0, lastSlash + 1)
    }
    origin + removeDotSegments(dir + refPath) + refQuery
  }

  /** RFC 3986 §5.2.4 — `.` and `..` segments resolved; `..` never climbs
    * above the root; a trailing `/`, `/.` or `/..` keeps the directory
    * form. Empty segments (double slashes) collapse — the crawl subset. */
  private def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    path.split("/", -1).foreach {
      case "" | "." => // collapse empty (leading/double slashes) and '.'
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1)
      case seg      => out += seg
    }
    val dir = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    val joined = out.mkString("/")
    if (dir && joined.nonEmpty) "/" + joined + "/" else "/" + joined
  }
}
