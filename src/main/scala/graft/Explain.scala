package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.pipeline.{Corpus, ExtractPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans of the load-bearing queries to
  * PLANS.md so scan pruning / pushdown / broadcast choices are reviewable
  * (and reviewed — see the checklist at the top of the generated file). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append(
      """# PLANS — physical-plan review (generated by `graft.Explain`)
        |
        |Checklist verified per plan:
        |- extraction: ReadSchema carries ONLY url/html/lang (text+warc_ts pruned at scan)
        |- ann: the small query side is broadcast; the corpus is never shuffled
        |- dedup exact: partial (map-side) aggregation before the single shuffle
        |- jaccard: equi-joins on derived keys only (no cartesian anywhere);
        |  hot shingles (df > MaxBucket) anti-joined out before the self-join
        |- embedding near-dup: pair predicate is an equi-join on the IVF cell
        |  id — no BroadcastNestedLoopJoin carrying the pair condition, no
        |  full-table broadcast (the only BNLJ is vectors x ≤16 centroids)
        |- stratified sample: `WindowGroupLimit ... Partial` appears BEFORE the
        |  exchange — each map task pre-limits to n rows per group, so the
        |  per-group reducer task receives ≤ n·numMapPartitions rows, never a
        |  whole language (the 100 TB concern for per-group windows)
        |- k-means seed: `TakeOrderedAndProject` (per-partition partial top-k
        |  + single driver merge of k rows), NOT a global sort
        |- packing: ONE hash exchange on the stream key + in-partition sort +
        |  MapPartitions — the whole greedy recurrence costs one shuffle
        |- blocklist: both joins BroadcastHashJoin (semi + anti); the page
        |  table is never exchanged
        |- pii: the whole redaction chain is one codegen'd Project fused over
        |  the scan — zero exchanges
        |- corpus-line dedup: winner agg partial-combines on md5(line); the
        |  survivor filter is LEFT SEMI on the UNIQUE (line-key, id, pos)
        |  composite, so a boilerplate line hitting half the corpus never
        |  concentrates on one reducer
        |- lm_score: the narrow bigram table is ONE InMemoryTableScan reused
        |  by both count aggs and the score join; both counts partial-combine
        |""".stripMargin)
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // extraction over a real parquet page table (write one to tmp to show scan pruning)
    val tmp = Files.createTempDirectory("graft_explain").toString
    Corpus.pages(spark, sfDir).limit(50).write.mode("overwrite").parquet(s"$tmp/pages")
    val pagesTable = spark.read.parquet(s"$tmp/pages")
      .as[graft.pipeline.PageRow](org.apache.spark.sql.Encoders.product[graft.pipeline.PageRow])
    dump("extract_pipeline (scan -> mapPartitions -> agg)",
      ExtractPipeline.run(pagesTable, "").groupBy("kind")
        .agg(count(lit(1)), sum("n_chars")))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    dump("dedup_exact", Dedup.exactGroups(docs, "doc_id", "text"))
    dump("dedup_ngram_jaccard", Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    dump("ann_topk_bruteforce", Ann.bruteForceTopK(emb, emb.where(col("id") < 10), 5))
    dump("dedup_embedding_cosine (IVF-cell-local)", Ann.cosineDupPairsIvf(emb, 0.95))
    dump("stratified_sample (partial WindowGroupLimit before exchange)", {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(graft.functions.Sampling.bucket(col("doc_id")), col("doc_id"))
      docs.withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
        .select("lang", "doc_id")
    })
    dump("kmeans_seed (TakeOrderedAndProject, not a global sort)",
      emb.orderBy(graft.functions.Sampling.orderKey(col("id")), col("id")).limit(8))
    dump("dedup_chunks (linear explode -> map-side-combined groupBy, no self-join)",
      Dedup.duplicateChunks(docs, "doc_id", "text"))
    dump("text_repetition (two explode->agg chains, no per-doc window/collect_list)",
      graft.functions.TextStats.repetitionSignals(docs, "doc_id", "text"))
    dump("dedup_embedding_rplsh (banded signature equi-joins + exact verify)",
      Ann.rplshCosineDupPairs(emb, 0.95))
    dump("text_stats (single codegen stage)", docs.select(
      graft.functions.TextStats.wsTokens(col("text")).as("t"),
      graft.functions.TextStats.fingerprint(col("text")).as("f")))
    dump("extract_metrics_only (narrow row out of the map; ReadSchema still url/html/lang)",
      ExtractPipeline.runMetrics(pagesTable).groupBy("kind")
        .agg(count(lit(1)), sum("n_chars")))
    dump("pack_sequences (one exchange on stream + sort + MapPartitions)",
      graft.pipeline.Packing.packSequences(docs, "doc_id", "text"))
    dump("url_block_domains (broadcast semi + broadcast anti; corpus never exchanged)", {
      import spark.implicits._
      val pages = docs.select(col("doc_id"),
        concat(lit("https://sub"), (col("doc_id") % 11).cast("string"),
          lit(".example"), (col("doc_id") % 7).cast("string"),
          lit(".com/p")).as("url"))
      graft.functions.Urls.dropBlockedDomains(pages, "url", "doc_id",
        Seq("example3.com").toDF("domain"))
    })
    dump("pii_scrub (redaction chain in one codegen'd Project over the scan)",
      docs.select(col("doc_id"),
        graft.functions.Pii.nEmails(col("text")).as("n_emails"),
        graft.functions.Pii.scrub(col("text")).as("redacted")))
    dump("dedup_exact_spans (narrow fp explode cached once; per-DOC island window, no corpus-wide sort)",
      Dedup.duplicateSpans(docs, "doc_id", "text", windowTokens = 20))
    dump("pdf_spans (span explode is a Generate fused after the extract map — no extra exchange)", {
      import spark.implicits._
      val probe = docs.where(length(col("text")) > 0)
        .select("doc_id", "text", "lang").as[(Long, String, String)]
        .map { case (id, t, lang) => Corpus.spanProbePageRowFor(id, t, lang) }
      ExtractPipeline.run(probe, delimiter = "").toDF()
        .select(col("url"), posexplode(col("spans")))
    })
    dump("dedup_corpus_lines (map-side-combined winner agg; LEFT SEMI on the UNIQUE (line,id,pos) key so hot lines have no single reducer; per-doc reassembly)",
      Dedup.dedupLinesAcrossCorpus(docs, "doc_id", "text"))
    dump("lm_score (bigram table persisted once -> InMemoryTableScan x3; counts map-side combined; vocab 1-row broadcast)",
      graft.functions.TextStats.lmScore(docs, "doc_id", "text"))
    Dedup.clearCaches()
    dump("mix_token_budget (tiny bucket aggregate prefix-summed; one crossing key per group windows)",
      graft.functions.Sampling.mixByTokenBudget(docs, "lang", "doc_id", "text", 2000L))
    dump("anchor_profile (both aggs partial-combined: duplicate anchors collapse map-side, argmax rides min(struct) — no collect_list, no window)", {
      import spark.implicits._
      val edges = docs.select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.html.Links.extractAnchors(
            Corpus.htmlAnchorProbe(id, t), Corpus.UrlPrefix + id)
        }.toDF("dst", "anchor")
      graft.html.Anchors.profile(edges, "dst", "anchor")
    })
    dump("quality_funnel (blocklist = broadcast semi on exploded suffixes; langid/gopher = one codegen'd CASE; the only corpus shuffles are repetitionSignals' two combine-side-reduced agg chains + the id join back)", {
      import spark.implicits._
      val aug = docs.select(col("doc_id"),
        concat(lit("https://sub"), (col("doc_id") % 11).cast("string"),
          lit(".example"), (col("doc_id") % 7).cast("string"),
          lit(".com/p/"), col("doc_id").cast("string")).as("url"),
        lit("en").as("lang"), col("text"))
      graft.functions.Funnel.verdicts(aug,
        "doc_id", "url", "lang", "text",
        Seq("example3.com").toDF("domain"), minWords = 15)
    })
    dump("frontier_allowed (ONE equi-join on host — robots side aggregated to hosts-size and broadcast; targets never shuffle; policy eval in one MapPartitions)", {
      import spark.implicits._
      val targets = docs.select(col("doc_id"),
        concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string")).as("url"))
      graft.sources.Frontier.allowed(targets, "url",
        Seq(("h0.example.org", "User-agent: *\nDisallow: /private/"))
          .toDF("host", "robots_txt"))
    })
    dump("host_caps (typed top-K Aggregator: ObjectHashAggregate with PARTIAL merge — map-side state <= K per key, never a corpus-wide window sort)",
      graft.functions.TopK.topKPerKey(
        docs.select(concat(lit("h"), (col("doc_id") % 7).cast("string"),
            lit(".example.org")).as("host"),
          ((col("doc_id") * 31) % 101).as("score"), col("doc_id")),
        "host", "score", "doc_id", 3))
    dump("chunk_windows (one codegen'd Project + Generate over the scan — zero exchanges)",
      graft.functions.Chunking.chunkWindows(docs, "doc_id", "text", 40, 10))
    dump("crawl_delta (ONE full-outer SortMergeJoin on url; presence flags are literals, no extra pass)", {
      val url = concat(lit(Corpus.UrlPrefix), col("doc_id"))
      val prev = docs.select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
      val next = docs.where(col("doc_id") % 7 =!= 0)
        .select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
      graft.pipeline.Recrawl.delta(prev, next, "url", "fp")
    })
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
