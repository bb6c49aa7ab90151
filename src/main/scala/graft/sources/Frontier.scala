package graft.sources

import graft.functions.Urls
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** The operational capstone of the crawl-discovery chain: candidate
  * frontier URLs (from page links, sitemaps or feeds)
  * joined against per-host robots.txt policies ([[Robots]]) to decide what
  * a crawler may actually fetch. robots.txt → sitemaps → feeds → links
  * produce CANDIDATES; this produces the ALLOWED frontier. ADDITIVE
  * surface — the reference has no crawl code.
  *
  * Shape at 10^9 frontier urls × 10^7 hosts: host derived per row
  * (codegen'd [[Urls.hostOf]]), ONE equi-join on host (the robots table is
  * hosts-sized — broadcast when it fits, AQE falls back to a sort-merge
  * join when it doesn't), then one mapPartitions evaluating the policy per
  * row with a per-partition host→policy cache: after a sort-merge join the
  * partition is clustered by host so the cache hits ~always; after a
  * broadcast join arrival order is arbitrary, so the cache is a bounded
  * LRU (parse cost is µs on real-world robots.txt — the cache is an
  * optimization, not a correctness requirement). Per RFC 9309 §2.3.1.2–4 a
  * host with NO robots.txt row is fully allowed. */
object Frontier {

  /** Input columns preserved, plus a boolean `allowed`. `robots` carries
    * one row per host: (`hostCol`, `txtCol` = the robots.txt body).
    * Matching is on the url's path+query, per RFC 9309. */
  def allowed(targets: DataFrame, urlCol: String, robots: DataFrame,
      hostCol: String = "host", txtCol: String = "robots_txt",
      userAgent: String = "graftbot"): DataFrame = {
    val t = targets.withColumn("__host", Urls.hostOf(col(urlCol)))
    // a duplicated host row would DUPLICATE every frontier url of that host
    // through the join — collapse deterministically (max body) on the
    // hosts-sized side, where the extra aggregation is noise
    val r = robots.select(lower(col(hostCol)).as("__host"),
        col(txtCol).as("__robots_txt"))
      .groupBy("__host").agg(max("__robots_txt").as("__robots_txt"))
    val joined = t.join(r, Seq("__host"), "left_outer")
    val urlIdx = joined.schema.fieldIndex(urlCol)
    val hostIdx = joined.schema.fieldIndex("__host")
    val txtIdx = joined.schema.fieldIndex("__robots_txt")
    val outSchema = joined.schema.add("allowed", BooleanType, nullable = false)
    val out = joined.mapPartitions { it =>
      // bounded host→policy LRU: clustered input (sort-merge join) makes
      // this a single-entry hit; arbitrary order (broadcast join) stays
      // bounded regardless of distinct hosts per partition
      val cache = new java.util.LinkedHashMap[String, Robots.Policy](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Robots.Policy]): Boolean = size() > 10000
      }
      it.map { row =>
        val ok =
          if (row.isNullAt(urlIdx)) false // a null url is not fetchable
          else if (row.isNullAt(txtIdx)) true // no robots.txt → allowed
          else {
            val host = row.getString(hostIdx)
            var p = cache.get(host)
            if (p == null) {
              p = Robots.parse(row.getString(txtIdx), userAgent)
              cache.put(host, p)
            }
            p.isAllowed(pathQueryOf(row.getString(urlIdx)))
          }
        Row.fromSeq(row.toSeq :+ ok)
      }
    }(Encoders.row(outSchema))
    out.drop("__host", "__robots_txt")
  }

  /** The path+query a robots matcher sees: everything after the authority,
    * fragment dropped, "/" when the url has no path. */
  private[graft] def pathQueryOf(url: String): String = {
    val hash = url.indexOf('#')
    val u = if (hash >= 0) url.substring(0, hash) else url
    val schemeEnd = u.indexOf("://")
    if (schemeEnd < 0) return if (u.startsWith("/")) u else "/"
    val slash = u.indexOf('/', schemeEnd + 3)
    val q = u.indexOf('?', schemeEnd + 3)
    if (slash >= 0 && (q < 0 || slash < q)) u.substring(slash)
    else if (q >= 0) "/" + u.substring(q) // path-less query: matchers see "/?q"
    else "/"
  }
}
