package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** RSS 2.0 / Atom 1.0 feed parser — the third crawl-discovery artifact
  * (robots.txt → sitemaps → feeds). News-style corpus pipelines (the
  * CC-NEWS shape) seed their URL frontiers from feeds rather than
  * sitemaps, because a feed carries the NEWEST documents together with
  * the title and publication timestamp the scheduler and the corpus both
  * want. ADDITIVE surface: the reference has no web code.
  *
  * Shares [[Sitemap]]'s forgiving element scan (namespace-prefix-tolerant
  * local-name matching, XML entity decoding — real feeds don't validate)
  * and transport rules (gzip sniffed from the magic, malformed input →
  * Left so one bad feed can't fail a fetch job). Feed-specific rules this
  * parser adds:
  *
  *  - RSS items carry `<link>` as element TEXT; Atom entries carry it as
  *    an `href` ATTRIBUTE on `<link>` elements, chosen by `rel`: the first
  *    `rel="alternate"` or rel-less link wins (self/enclosure/hub links
  *    are feed plumbing, not documents);
  *  - titles are very often CDATA-wrapped — CDATA content is literal
  *    (NOT entity-decoded, per XML), non-CDATA text is entity-decoded;
  *  - the published timestamp is `<pubDate>` (RSS) or `<published>` with
  *    `<updated>` as the Atom fallback — surfaced VERBATIM (RFC 822 vs
  *    RFC 3339 normalization is the scheduler's policy, not the parser's);
  *  - items without a usable link are skipped (nothing to fetch);
  *  - a hostile file can't balloon one task: [[MaxItems]] entries,
  *    [[Sitemap.MaxLocChars]]-char links. */
object Feed {

  /** One feed entry: document URL, optional title, optional raw timestamp. */
  final case class Item(link: String, title: Option[String], published: Option[String])

  final case class Parsed(kind: String, items: Vector[Item]) // kind: "rss" | "atom"

  final val MaxItems = 10000

  /** Parse feed bytes (gzip or plain, UTF-8). `maxItems` is parameterized
    * for tests; production callers keep the default cap. */
  def parse(bytes: Array[Byte], maxItems: Int = MaxItems): Either[String, Parsed] =
    try {
      val t = new String(Sitemap.gunzipIfNeeded(bytes), UTF_8).trim
      if (t.isEmpty) Left("feed: empty")
      else if (t.charAt(0) != '<') Left("feed: not XML")
      else if (Sitemap.containsElement(t, "feed")) parseAtom(t, maxItems)
      else if (Sitemap.containsElement(t, "rss") || Sitemap.containsElement(t, "channel"))
        parseRss(t, maxItems)
      else Left("feed: neither <rss>/<channel> nor <feed>")
    } catch {
      case e: Exception => Left(s"feed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def parseRss(t: String, maxItems: Int): Either[String, Parsed] = {
    val out = Vector.newBuilder[Item]
    var n = 0
    var from = 0
    var open = Sitemap.indexOfElement(t, "item", from)
    while (open >= 0 && n < maxItems) {
      val end = Sitemap.indexOfClose(t, "item", open)
      val stop = if (end < 0) t.length else end
      textOf(t, "link", open, stop).filter(_.length <= Sitemap.MaxLocChars).foreach { l =>
        out += Item(l, textOf(t, "title", open, stop), textOf(t, "pubDate", open, stop))
        n += 1
      }
      from = stop + 1
      open = Sitemap.indexOfElement(t, "item", from)
    }
    Right(Parsed("rss", out.result()))
  }

  private def parseAtom(t: String, maxItems: Int): Either[String, Parsed] = {
    val out = Vector.newBuilder[Item]
    var n = 0
    var from = 0
    var open = Sitemap.indexOfElement(t, "entry", from)
    while (open >= 0 && n < maxItems) {
      val end = Sitemap.indexOfClose(t, "entry", open)
      val stop = if (end < 0) t.length else end
      atomLink(t, open, stop).filter(_.length <= Sitemap.MaxLocChars).foreach { l =>
        val published = textOf(t, "published", open, stop)
          .orElse(textOf(t, "updated", open, stop))
        out += Item(l, textOf(t, "title", open, stop), published)
        n += 1
      }
      from = stop + 1
      open = Sitemap.indexOfElement(t, "entry", from)
    }
    Right(Parsed("atom", out.result()))
  }

  /** First `<link>` in [from, until) whose `rel` is absent or "alternate",
    * returning its entity-decoded `href`. */
  private def atomLink(t: String, from: Int, until: Int): Option[String] = {
    var i = Sitemap.indexOfElement(t, "link", from)
    while (i >= 0 && i < until) {
      val a = attrsOf(t, i)
      val rel = a.getOrElse("rel", "alternate")
      val href = a.get("href")
      if (rel.equalsIgnoreCase("alternate") && href.exists(_.nonEmpty)) return href
      i = Sitemap.indexOfElement(t, "link", i + 1)
    }
    None
  }

  /** Quote-aware XML attribute scan of the tag opening at `tagStart`
    * (XML requires quoted values, and a '>' INSIDE a quoted value must not
    * terminate the tag). Names lowercased, values entity-decoded,
    * first-wins. */
  private[sources] def attrsOf(t: String, tagStart: Int): Map[String, String] = {
    var out = Map.empty[String, String]
    var i = Sitemap.elementNameEnd(t, tagStart + 1)
    val n = t.length
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    while (i < n && t.charAt(i) != '>') {
      while (i < n && (ws(t.charAt(i)) || t.charAt(i) == '/' || t.charAt(i) == '?')) i += 1
      if (i < n && t.charAt(i) != '>') {
        val nameStart = i
        while (i < n && !ws(t.charAt(i)) && t.charAt(i) != '=' && t.charAt(i) != '>' &&
            t.charAt(i) != '/') i += 1
        val name = t.substring(nameStart, i).toLowerCase(java.util.Locale.ROOT)
        while (i < n && ws(t.charAt(i))) i += 1
        if (i < n && t.charAt(i) == '=') {
          i += 1
          while (i < n && ws(t.charAt(i))) i += 1
          val value =
            if (i < n && (t.charAt(i) == '"' || t.charAt(i) == '\'')) {
              val q = t.charAt(i)
              val vStart = i + 1
              val vEnd = t.indexOf(q, vStart)
              val end = if (vEnd < 0) n else vEnd
              i = if (vEnd < 0) n else vEnd + 1
              t.substring(vStart, end)
            } else {
              // unquoted value — invalid XML, but "real feeds don't
              // validate" is this module's whole premise (HTML's
              // unquoted-attribute rule): read to whitespace or '>'
              val vStart = i
              while (i < n && !ws(t.charAt(i)) && t.charAt(i) != '>') i += 1
              t.substring(vStart, i)
            }
          if (name.nonEmpty && !out.contains(name))
            out = out.updated(name, Sitemap.decodeEntities(value))
        } else if (name.nonEmpty && !out.contains(name)) out = out.updated(name, "")
      }
    }
    out
  }

  /** [[Sitemap.elementText]] — the ONE copy of the element-text rules
    * (decoy-skipping scan, quote-aware tag end, literal CDATA). */
  private def textOf(t: String, name: String, from: Int, until: Int): Option[String] =
    Sitemap.elementText(t, name, from, until)
}
