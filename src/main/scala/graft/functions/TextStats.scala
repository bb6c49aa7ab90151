package graft.functions

import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for training-data pipelines, built from
  * `org.apache.spark.sql.functions` so every one of them stays inside
  * whole-stage codegen (no UDFs in the hot path; a 100 TB scan of these is
  * a single WholeStageCodegen span over the parquet scan).
  */
object TextStats {

  /** Whitespace token count (BIGINT to match the DuckDB oracle's len()). */
  def wsTokens(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish token count: letter runs, digit runs, single non-space symbols.
    * The pattern is RE2/Java-regex common ground so the DuckDB oracle
    * computes the identical value. */
  val TokenPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def regexTokens(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0))).cast("long")

  /** Quality counters as exact integers (ratios are downstream divisions —
    * never emit engine-computed doubles into a hash-compared result). */
  def nChars(text: Column): Column = length(text).cast("long")
  def nAlpha(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[a-zA-Z]", ""))).cast("long")

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Stopword hits over whitespace tokens (array intrinsics, codegen'd). */
  def nStopwords(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), w => w.isin(Stopwords.map(_.asInstanceOf[Any]): _*)))
      .cast("long")

  /** Content-defined fingerprint: md5 of whitespace-normalized lowercase
    * text — the exact-dedup key. Deterministic and SQL-portable. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")).cast("binary"))

  /** Language-ID: stopword-profile scoring (n-gram-free heuristic — counts
    * hits of each language's top function words, highest count wins,
    * deterministic tie-break by language code). Standard public technique
    * (Cavnar-Trenkle-style profile matching simplified to word unigrams). */
  val LangProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "de" -> Set("der", "die", "und", "das", "nicht", "von", "ist", "mit", "den", "ein"),
    "fr" -> Set("le", "la", "les", "et", "des", "un", "une", "du", "que", "est"),
    "zh" -> Set("的", "了", "是", "我", "不", "在", "有", "人", "这", "他"))

  /** Gopher/C4-style quality filter as a single boolean Column, built from
    * integer comparisons only (no float thresholds → exactly mirrorable in
    * any SQL engine): word count in [wordMin,wordMax], mean word length in
    * [3,12] (as 3·w ≤ alpha ≤ 12·w), and at least one stopword hit. */
  def qualityKeep(text: Column, wordMin: Int = 15, wordMax: Int = 100000): Column = {
    val w = wsTokens(text)
    val alpha = nAlpha(text)
    w.geq(wordMin) && w.leq(wordMax) &&
      alpha.geq(w * 3) && alpha.leq(w * 12) &&
      nStopwords(text).geq(1)
  }

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1 — public):
    * per-document top-word fraction and duplicate-bigram fraction, plus
    * mean word length, all as exact integer permille/centi values (the
    * hash-compared oracle forbids engine-computed floats). Two explode →
    * map-side-combined groupBy chains — the canonical linear shape; no
    * per-doc window, no collect_list (a 10^6-word doc stays a stream of
    * (doc, term) rows, never one array in one task's memory). */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    val words = docs.select(col(idCol).as("doc_id"), explode(ws).as("w"))
    val perDoc = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"), max("c").as("top_cnt"),
        sum(col("c") * length(col("w"))).as("char_sum"))
    // materialize the words array before the lambda references it: element_at
    // on an inline split() re-runs the regex per reference (see
    // Dedup.shinglesFromWords)
    val wsCol = col("ws")
    val bigrams = docs
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .where(size(wsCol) >= 2) // sequence(0, -1) would count DOWN
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(wsCol) - 2),
          i => concat_ws(" ", element_at(wsCol, i + 1), element_at(wsCol, i + 2)))).as("bg"))
    val bgDoc = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("total_bg"), count(lit(1)).as("distinct_bg"))
    perDoc.join(bgDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        expr("(1000 * top_cnt) div n_words").as("top_word_permille"),
        coalesce(expr("(1000 * (total_bg - distinct_bg)) div total_bg"), lit(0L))
          .as("dup_bigram_permille"),
        expr("(100 * char_sum) div n_words").as("mean_word_len_centi"))
  }

  /** Per-document top-`topN` distinctive terms by tf·idf with the idf as an
    * exact scaled integer — idf_milli = (1000·N) div df — so the score is a
    * BIGINT any engine reproduces bit-exactly (no ln(), whose libm rounding
    * is engine-specific; the monotone 1/df surrogate ranks identically for
    * a fixed N). The topic/domain profiling primitive of a training-data
    * mix. Shape: one explode → two map-side-combined groupBys → one
    * equi-join on the term (both sides shuffled on the term key — the df
    * side is |vocab| rows, the tf side |doc,term| rows; no broadcast needed
    * and no skew beyond the vocabulary's natural Zipf, which the groupBy
    * already absorbed) → per-doc row_number that Spark plans with a partial
    * WindowGroupLimit. N joins in as a broadcast single-row aggregate,
    * never a driver-side collect. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      topN: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").join(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * expr("(1000 * n_docs) div df")).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topN)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** The eight words Gopher's "stop word presence" rule checks (Rae et al.
    * 2021 §A1.1 — ≥ 2 distinct must appear). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher document-quality rule set (Rae et al. 2021 §A1.1) as
    * exact integer signals — every ratio threshold is rewritten as a
    * cross-multiplied integer comparison (10·hash ≤ words instead of
    * hash/words ≤ 0.1) so the keep decision is bit-reproducible in any SQL
    * engine; all plain `functions._` intrinsics, fully codegen'd.
    *
    * Signals: word count in [minWords, maxWords]; mean word length in
    * [3, 10] (3·words ≤ chars-in-words ≤ 10·words); #-symbol and "..."
    * counts each ≤ 10% of words; ≤ 90% of lines start with a bullet
    * ("- " / "* "); ≤ 30% of lines end with "..."; ≥ 80% of words contain
    * an alphabetic character; ≥ 2 distinct Gopher stop words present. */
  def gopherSignals(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column = {
    val ws = split(trim(text), "\\s+")
    val words = size(ws).cast("long")
    val charsInWords = (length(regexp_replace(text, "\\s+", ""))).cast("long")
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    // replace-based count: non-overlapping leftmost in Spark and SQL alike
    val nEllipsis = ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val nBulletLines = size(filter(lines,
      l => trim(l).startsWith("- ") || trim(l).startsWith("* "))).cast("long")
    val nEllipsisLines = size(filter(lines,
      l => trim(l).endsWith("..."))).cast("long")
    val nAlphaWords = size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("long")
    val nStopDistinct = size(array_intersect(array_distinct(split(lower(trim(text)), "\\s+")),
      array(GopherStopwords.map(lit): _*))).cast("long")
    val keep =
      words.geq(minWords) && words.leq(maxWords) &&
        charsInWords.geq(words * 3) && charsInWords.leq(words * 10) &&
        (nHash * 10).leq(words) && (nEllipsis * 10).leq(words) &&
        (nBulletLines * 10).leq(nLines * 9) &&
        (nEllipsisLines * 10).leq(nLines * 3) &&
        (nAlphaWords * 10).geq(words * 8) &&
        nStopDistinct.geq(2)
    struct(words.as("n_words"), charsInWords.as("chars_in_words"),
      nHash.as("n_hash"),
      nEllipsis.as("n_ellipsis"), nLines.as("n_lines"),
      nBulletLines.as("n_bullet_lines"), nEllipsisLines.as("n_ellipsis_lines"),
      nAlphaWords.as("n_alpha_words"), nStopDistinct.as("n_stop_distinct"),
      when(keep, 1L).otherwise(0L).as("keep"))
  }

  /** CCNet-style language-model quality score (Wenzek et al. 2020 §4.3 use
    * a KenLM 5-gram; this is the same filter shape with a corpus-trained
    * bigram model): documents whose word transitions are common in the
    * corpus score high, word-salad and boilerplate-shredded pages score
    * low, and the caller keeps/buckets by the per-doc average.
    *
    * EXACT INTEGER surrogate instead of log-probabilities: each bigram
    * contributes `(10^6 * (C2+1)) DIV (C1 + V)` — add-one-smoothed
    * conditional probability in ppm with floor division (C2 = bigram
    * count, C1 = prefix count, V = corpus vocabulary) — so the per-doc sum
    * is order-independent and hash-gateable, where a float log-prob sum
    * depends on partial-aggregation order (same trick as the tf-idf
    * surrogate).
    *
    * Shape at 10^12 docs: the narrow (doc, w1, bigram) table is persisted
    * and reused for BOTH count aggregations (map-side combined) and the
    * score join — registered with the operator-cache lifecycle
    * ([[graft.dedup.Dedup.clearCaches]] releases it between batches, the
    * same discipline as the LSH index caches); the two count tables join
    * back by plain equi-joins (hot bigrams are one row on the build side —
    * AQE skew-split handles the probe side); V rides a 1-row broadcast
    * cross join, never a driver count. Returns (doc_id, n_bigrams,
    * sum_ppm, avg_ppm) for docs with >= 2 tokens. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L): DataFrame = {
    val bg = docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ws")) - 2),
        i => struct(
          element_at(col("ws"), i + 1).as("w1"),
          concat_ws(" ", element_at(col("ws"), i + 1), element_at(col("ws"), i + 2)).as("bgk"))))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.bgk").as("bgk"))
      .persist()
    graft.dedup.Dedup.registerCache(bg)
    val c2 = bg.groupBy("bgk").agg(count(lit(1)).as("n2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
    val vocab = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    bg.join(c2, "bgk").join(c1, "w1").crossJoin(vocab)
      .select(col("doc_id"),
        // the multiply rides DECIMAL(38,0): at 10^12-doc corpora a stopword
        // bigram's count times the 10^6 scale overflows BIGINT silently
        // (non-ANSI wrap → negative ppm). The quotient is bounded by
        // ~2*scale (n1 >= n2 by construction: every bigram occurrence is a
        // prefix occurrence), so the result is a safe BIGINT again.
        expr(s"CAST((CAST($scale AS DECIMAL(38,0)) * (n2 + 1L)) DIV (n1 + v) AS BIGINT)").as("ppm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("ppm").as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_ppm"),
        expr("sum_ppm DIV n_bigrams").as("avg_ppm"))
  }

  def langId(text: Column): Column = {
    // score per language, pick argmax with lexicographic tie-break
    val scored = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(split(lower(trim(text)), "\\s+"),
        w => w.isin(words.toSeq.map(_.asInstanceOf[Any]): _*)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    // array_max on STRUCT orders by first field then second; we want max hits
    // and, on ties, the SMALLEST lang — so compare on (hits, negated lang) is
    // not expressible; instead reduce with a codegen'd aggregate expression.
    val arr = array(scored: _*)
    val best = aggregate(arr,
      struct(lit(-1L).cast("int").as("hits"), lit("und").as("lang")),
      (acc, x) => when(x.getField("hits") > acc.getField("hits"), x).otherwise(acc))
    best.getField("lang")
  }
}
