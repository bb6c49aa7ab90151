package graft.sources

/** Robots Exclusion Protocol (RFC 9309) — the crawl-policy artifact every
  * web corpus pipeline must honor before a page may be kept (the fetch-side
  * twin of a page's `<meta name=robots>` directives).
  * ADDITIVE surface: the reference has no web code.
  *
  * Implemented per the RFC:
  *  - groups = one or more consecutive `User-agent` lines followed by
  *    rules; rules before any group are ignored;
  *  - group selection: all groups whose product token matches the crawler
  *    case-insensitively are MERGED; `*` groups apply only when no
  *    specific group matched (§2.2.1);
  *  - matching: `*` matches any char sequence, `$` anchors the pattern
  *    end; the longest matching pattern wins, and on an allow/disallow
  *    tie the LEAST RESTRICTIVE (allow) rule wins (§2.2.2);
  *  - an empty `Disallow:` value allows everything (no rule);
  *  - unmatched paths are allowed (§2.2.2: "if no match found, crawlers
  *    MUST use the least restrictive");
  *  - `Sitemap` is file-wide, `Crawl-delay` (de-facto extension) is
  *    per-group — both surfaced for scheduling, neither affects matching.
  *
  * Percent-encoding normalization (§2.2.2's octet comparison) is NOT
  * applied: patterns and paths compare as given, the behavior of the
  * major production matchers on already-encoded crawl URLs. */
object Robots {

  /** The policy one crawler token extracts from one robots.txt: match
    * rules as (isAllow, pattern), plus the scheduling extensions. */
  final case class Policy(
      rules: Vector[(Boolean, String)],
      crawlDelaySec: Option[Double],
      sitemaps: Vector[String]) {

    /** RFC 9309 §2.2.2 precedence: longest matching pattern wins;
      * allow wins a length tie; no match → allowed. */
    def isAllowed(path: String): Boolean = {
      var bestLen = -1
      var bestAllow = true
      rules.foreach { case (allow, pat) =>
        if (pat.length > bestLen || (pat.length == bestLen && allow && !bestAllow)) {
          if (matches(pat, path)) {
            bestLen = pat.length
            bestAllow = allow
          }
        }
      }
      bestAllow
    }
  }

  val AllowAll: Policy = Policy(Vector.empty, None, Vector.empty)

  /** Parse `robots.txt` content and select+merge the groups that apply to
    * `userAgent` (a product token, e.g. "graftbot"). */
  def parse(txt: String, userAgent: String): Policy = {
    val want = userAgent.toLowerCase(java.util.Locale.ROOT)
    // (agents, rules, crawlDelay) per group, in file order
    final case class Group(
        agents: Vector[String],
        rules: Vector[(Boolean, String)],
        delay: Option[Double])
    var groups = Vector.empty[Group]
    var curAgents = Vector.empty[String]
    var curRules = Vector.empty[(Boolean, String)]
    var curDelay: Option[Double] = None
    var inAgents = false // consecutive User-agent lines share one group
    var started = false
    val sitemaps = Vector.newBuilder[String]

    def flush(): Unit = {
      if (started) groups :+= Group(curAgents, curRules, curDelay)
      curAgents = Vector.empty; curRules = Vector.empty; curDelay = None
      started = false
    }

    txt.split("\r?\n", -1).foreach { line0 =>
      val hash = line0.indexOf('#')
      val line = (if (hash >= 0) line0.substring(0, hash) else line0).trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (!inAgents) flush()
            started = true; inAgents = true
            curAgents :+= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" if started =>
            inAgents = false
            // empty Disallow = allow everything = no rule; empty Allow is
            // equally a no-op (matches everything at length 0, same as the
            // no-match default)
            if (value.nonEmpty) curRules :+= ((field == "allow", value))
          case "crawl-delay" if started =>
            inAgents = false
            if (curDelay.isEmpty)
              curDelay = try Some(value.toDouble) catch { case _: NumberFormatException => None }
          case "sitemap" =>
            if (value.nonEmpty) sitemaps += value
          case _ =>
            if (started) inAgents = false // unknown field ends the UA run
        }
      }
    }
    flush()

    val specific = groups.filter(_.agents.contains(want))
    val selected =
      if (specific.nonEmpty) specific else groups.filter(_.agents.contains("*"))
    Policy(
      rules = selected.flatMap(_.rules),
      crawlDelaySec = selected.flatMap(_.delay).headOption,
      sitemaps = sitemaps.result())
  }

  /** One-shot convenience: parse + match. */
  def isAllowed(txt: String, userAgent: String, path: String): Boolean =
    parse(txt, userAgent).isAllowed(path)

  /** RFC 9309 pattern match: the pattern must match a PREFIX of `path`
    * (or all of it when `$`-anchored); `*` matches any sequence. Greedy
    * left-to-right placement is correct for prefix semantics; the final
    * segment of an anchored pattern is placed at the path END instead. */
  private[graft] def matches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val parts = p.split("\\*", -1)
    if (!path.startsWith(parts(0))) return false
    var pos = parts(0).length
    val lastMid = if (anchored) parts.length - 1 else parts.length
    var k = 1
    while (k < lastMid) {
      val idx = path.indexOf(parts(k), pos)
      if (idx < 0) return false
      pos = idx + parts(k).length
      k += 1
    }
    if (!anchored) true
    else if (parts.length == 1) pos == path.length
    else {
      val last = parts(parts.length - 1)
      val start = path.length - last.length
      start >= pos && path.startsWith(last, start)
    }
  }
}
