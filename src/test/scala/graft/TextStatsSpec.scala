package graft

import graft.functions.TextStats
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit twin for the TextStats operators that carry nontrivial arithmetic
  * (the simple counting Columns are exercised end-to-end by the oracle
  * gate — text_tokens/text_quality/etc.). */
class TextStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-textstats-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .master("local[4]")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("tfidfTopTerms: integer idf surrogate ranks rare terms above common ones") {
    import spark.implicits._
    // 4 docs; "shared" appears in all (df=4, idf_milli=1000), "alpha"/"rare"
    // only in doc 1 (df=1, idf_milli=4000). Doc 1 repeats "shared" 3x
    // (score 3000) but its single df=1 terms (score 4000) still outrank it,
    // and the 4000-score tie breaks lexicographically: alpha before rare.
    val docs = Seq(
      (1L, "rare shared shared shared alpha"),
      (2L, "shared beta beta"),
      (3L, "shared gamma"),
      (4L, "shared delta")
    ).toDF("doc_id", "text")
    val got = TextStats.tfidfTopTerms(docs, "doc_id", "text", topN = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    val doc1 = got.filter(_._1 == 1L)
    assert(doc1.map(t => (t._3, t._4)).toSeq ===
      Seq(("alpha", 4000L), ("rare", 4000L)))
    // every doc gets exactly topN rows (ties broken by term asc)
    assert(got.groupBy(_._1).values.forall(_.length == 2))
    // doc 2: "beta" tf=2 df=1 -> 8000 beats "shared" 1000
    assert(got.filter(_._1 == 2L).head._3 === "beta")
  }

  test("gopherSignals: each rule's fail path flips keep in ISOLATION") {
    import graft.functions.TextStats
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val good = "the quick brown fox jumps over lazy dogs and that " +
      "they have fun with many other words beside them here today"
    // each failing doc is constructed so EXACTLY ONE rule is violated —
    // asserted below from the signals, so a regression in any single
    // comparison cannot hide behind a second incidentally-failing rule
    val rows = Seq(
      (1L, good),                                          // passes all
      (2L, good + " x# y# z#"),                            // hash ratio only (3 hashes, 23 words)
      (3L, good + " a...b c...d e...f"),                   // mid-line ellipsis ratio only
      (4L, good + (1 to 10).map(_ => "\n- alpha beta gamma").mkString), // bullet-line ratio only
      (5L, good + "\nmore words here too...\nand even more now..."),   // ellipsis-END lines only
      (6L, good + " " + (100 to 115).map(_.toString).mkString(" ")),   // alpha-word ratio only
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mucus nuance xylem omicron pious rhombus sigma tauon upsilon")) // stop words only
      .toDF("doc_id", "text")
    val sig = rows.select(col("doc_id"),
        TextStats.gopherSignals(col("text"), minWords = 10).as("g"))
      .select(col("doc_id"), col("g.*"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // rule predicates recomputed from the emitted signals
    def fails(id: Long): Seq[String] = {
      val r = sig(id)
      val (w, chars, hash, ell, lines, bul, ellLines, alpha, stop) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      Seq(
        "words" -> (w >= 10 && w <= 100000),
        "word_len" -> (chars >= 3 * w && chars <= 10 * w),
        "hash" -> (hash * 10 <= w),
        "ellipsis" -> (ell * 10 <= w),
        "bullets" -> (bul * 10 <= lines * 9),
        "ellipsis_lines" -> (ellLines * 10 <= lines * 3),
        "alpha" -> (alpha * 10 >= 8 * w),
        "stop" -> (stop >= 2)
      ).collect { case (name, ok) if !ok => name }
    }
    assert(sig(1L).getLong(10) == 1L, "baseline text must pass")
    val want = Map(2L -> "hash", 3L -> "ellipsis", 4L -> "bullets",
      5L -> "ellipsis_lines", 6L -> "alpha", 7L -> "stop")
    want.foreach { case (id, rule) =>
      assert(fails(id) == Seq(rule),
        s"doc $id must fail ONLY '$rule', failed: ${fails(id)}")
      assert(sig(id).getLong(10) == 0L, s"doc $id keep must be 0")
    }
  }

  test("lmScore: hand-computed add-one bigram ppm; sub-bigram docs excluded") {
    import spark.implicits._
    // corpus: C2("a b")=3, C2("b a")=1; prefixes C1(a)=3, C1(b)=1; V=3
    // ppm("a b") = 10^6*4 // (3+3) = 666666; ppm("b a") = 10^6*2 // 4 = 500000
    val rows = Seq(
      (1L, "a b a b"),  // bigrams: ab, ba, ab -> sum 1833332, avg 611110
      (2L, "a b"),      // -> sum 666666
      (3L, "c"))        // single token: excluded entirely
      .toDF("doc_id", "text")
    val got = TextStats.lmScore(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((3L, 1833332L, 611110L)),
      2L -> ((1L, 666666L, 666666L))))
  }
}
