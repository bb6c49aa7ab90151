package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl-snapshot reconciliation for recrawls: given the previous and the new
  * crawl snapshot keyed by url with a content fingerprint, classify every
  * url as added / removed / changed / unchanged. This is the incremental
  * companion to [[Checkpoint.resume]]: resume skips urls already DONE in
  * THIS output; the delta skips urls whose CONTENT did not change from one
  * crawl snapshot to the next, so a monthly recrawl of a 10^12-page table
  * re-extracts only the changed slice (on the real web the unchanged fraction
  * dominates — this is the difference between processing 100 TB and
  * processing a few TB per snapshot). ADDITIVE surface: the reference is
  * a single-document parser with no snapshot notion.
  *
  * Shape at 10^12 urls: ONE full-outer sort-merge join on url — both
  * sides shuffle once on the join key and nothing else; no window, no
  * driver-side state. On a real table both snapshot tables come bucketed by
  * url (crawl outputs are written url-partitioned), which makes the join
  * shuffle-free; the fingerprint comparison is a per-row projection. The
  * fingerprint column should be a digest of the EXTRACTION-RELEVANT bytes
  * (payload md5), not fetch metadata — timestamps/headers churn on every
  * fetch and would mark the whole table changed. Each snapshot must be
  * url-UNIQUE (a crawl snapshot is url-keyed); a duplicated url would
  * multiply through the outer join. */
object Recrawl {

  /** `(url, status)` for every url in either snapshot: `added` (new side
    * only), `removed` (previous side only), `changed` (both, different
    * fingerprint), `unchanged` (both, same fingerprint). Null fingerprints
    * are defensively distinct-from-everything (a null-fp row never counts
    * as unchanged — re-extracting it is the safe direction). */
  def delta(prev: DataFrame, next: DataFrame,
      urlCol: String, fpCol: String): DataFrame = {
    // explicit presence flags — a genuinely-null fingerprint must not be
    // confused with side-absence (the outer join nulls BOTH on a miss)
    val p = prev.select(col(urlCol).as("url"), col(fpCol).as("fp_prev"),
      lit(true).as("in_prev"))
    val n = next.select(col(urlCol).as("url"), col(fpCol).as("fp_next"),
      lit(true).as("in_next"))
    p.join(n, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("in_prev").isNull, lit("added"))
          .when(col("in_next").isNull, lit("removed"))
          .when(col("fp_prev").isNotNull && col("fp_prev") === col("fp_next"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The work list a recrawl actually extracts: the new snapshot filtered
    * to added + changed urls (one left-semi join against the delta). */
  def toExtract(next: DataFrame, delta: DataFrame, urlCol: String): DataFrame = {
    // rename the work-list key so the condition is unambiguous even when
    // urlCol is itself named "url"
    val work = delta.where(col("status").isin("added", "changed"))
      .select(col("url").as("__recrawl_url"))
    next.join(work, next(urlCol) === col("__recrawl_url"), "left_semi")
  }
}
