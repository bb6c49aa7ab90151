package graft

import graft.pipeline.{Checkpoint, Corpus, ExtractPipeline, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans of the load-bearing queries to a
  * markdown file so scan pruning / pushdown / broadcast choices are
  * reviewable (and reviewed — see the checklist at the top of the generated
  * file). Run from the repository root as
  * `sbt 'runMain graft.Explain <sfDir> PLANS.md'`, where `<sfDir>` holds the
  * generated tables (`documents.parquet`, …). */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(
      """# PLANS — physical-plan review (generated by `graft.Explain`)
        |
        |Checklist verified per plan:
        |- extraction: ReadSchema carries ONLY url/html/lang (text+warc_ts pruned at scan)
        |- submit write (`Main`): the writer's input is the scan projected to
        |  url/html/lang, with no Exchange, MapPartitions or object
        |  (de)serializer when the table has a row group per core — each write
        |  task extracts its scan split and writes its file, so a fresh submit
        |  is one scan → extract → write stage (a table with fewer row groups
        |  is hash-spread first; pinned by MainSpec)
        |""".stripMargin)
    def dump(name: String, qe: QueryExecution): Unit = {
      sb.append(s"\n## $name\n\n```\n")
      sb.append(qe.explainString(FormattedMode))
      sb.append("```\n")
    }
    // extraction over a real parquet page table (write one to tmp to show scan pruning)
    val tmp = Files.createTempDirectory("graft_explain").toString
    try {
      Corpus.pages(spark, sfDir).limit(50).repartition(4).write.mode("overwrite").parquet(s"$tmp/pages")
      // what a fresh submit hands its write tasks, as Main composes it: the
      // table has a row group per core, so spread keeps it on the scan
      // splits; each task then extracts and writes its split
      val submitPages = TableIO.readPages(spark, s"$tmp/pages")
      dump("submit_write input (Main: scan -> resume -> spread -> url/html/lang; extraction runs in the write task)",
        ExtractPipeline.run(ExtractPipeline.spread(
          Checkpoint.resume(submitPages, s"$tmp/submit_out"), submitPages), "").input)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      dump("pdf_spans input (the span probe's rows, pruned to url/html/lang; the gate explodes the spans of the committed table)", {
        import spark.implicits._
        val probe = docs.where(length(col("text")) > 0)
          .select("doc_id", "text", "lang").as[(Long, String, String)]
          .map { case (id, t, lang) => Corpus.spanProbePageRowFor(id, t, lang) }
        ExtractPipeline.run(probe, delimiter = "", captureLines = true).input
      })
      dump("crawl_delta (ONE full-outer SortMergeJoin on url; presence flags are literals, no extra pass)", {
        val url = concat(lit(Corpus.UrlPrefix), col("doc_id"))
        val prev = docs.select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
        val next = docs.where(col("doc_id") % 7 =!= 0)
          .select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
        graft.pipeline.Recrawl.delta(prev, next, "url", "fp").queryExecution
      })
    } finally {
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tmpPath, true)
    }
    // scan locations name the random temp dir and this machine's data dir,
    // lambda names carry per-JVM ids, and Catalyst's expression and plan
    // ids count up across the dumps of one run (so adding or removing a
    // dump would renumber every later one); fixed placeholders keep an
    // unchanged plan byte-identical across runs
    val plans = sb.toString
      .replace(tmp, "<tmp>")
      .replace(new java.io.File(sfDir).getAbsolutePath, "<sfDir>")
      .replaceAll("""Lambda\$\d+/0x\p{XDigit}+@\p{XDigit}+""", "Lambda<id>")
      .replaceAll("""#\d+""", "#<n>")
      .replaceAll("""plan_id=\d+""", "plan_id=<n>")
    Files.writeString(Paths.get(outPath), plans)
    println(s"wrote $outPath")
    spark.stop()
  }
}
