package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point for the extraction pipeline:
  *
  * {{{
  * spark-submit --class graft.pipeline.Main pdfparserspark.jar \
  *   <inputTable> <outDir> [--delimiter D] [--no-resume] [--maintenance]
  *   [--delta prevSnapshot]
  * }}}
  *
  * `--delta <prevSnapshot>` runs the INCREMENTAL recrawl path: both tables
  * are fingerprinted (md5 of the raw html payload — extraction-relevant
  * bytes only, never fetch metadata), [[Recrawl.delta]] classifies every
  * url, the status counts are printed, and ONLY added+changed documents
  * flow into the normal resume → extract → commit path. On a real
  * monthly recrawl the unchanged fraction dominates, so this is the
  * difference between re-extracting the whole 10^12-row table and a few
  * percent of it.
  *
  * Reads the input_hint page table (parquet path or Iceberg-style table
  * path) with the `PageRow` schema given, skips urls already committed
  * under `<outDir>/_manifest` (resume), then extracts and writes the
  * output table in one pass through [[Checkpoint.commitWithData]]: each
  * write task extracts its scan split ([[ExtractPipeline.run]], no
  * encoder) and writes the rows to one file. This is the library's one
  * extraction path; anything else that extracts commits the same way and
  * reads the table back with [[Checkpoint.readExtracted]]. A fresh submit
  * is ONE Spark job, scan → extract → write in one stage with no shuffle;
  * only an input with fewer parquet row groups than cores is hash-spread first
  * ([[ExtractPipeline.spread]]). Nothing is cached, the tasks return their
  * files and counts, and the driver publishes the files and writes the
  * checkpoint manifest: the list of those files and the summed counts. It
  * prints the rollup as one JSON line. A fully-resumed
  * run commits nothing. Designed so a killed run
  * re-submitted with the same arguments continues mid-table (north_rule:
  * resumable with per-partition lineage + metrics).
  *
  * `--maintenance` skips extraction and instead runs the sink maintenance
  * pair on `<outDir>` — [[Checkpoint.compact]] (small-file rewrite, under
  * the maintenance lock) then [[Checkpoint.vacuum]] (orphan + crashed-
  * staging GC) — and prints what it did. `<inputTable>` is ignored but
  * still required positionally so the submit command only changes by the
  * flag.
  */
object Main {
  private val usage =
    "usage: Main <inputTable> <outDir> [--delimiter D] [--no-resume] [--maintenance] [--delta prevSnapshot]"
  private val switches = Set("--no-resume", "--maintenance")
  private val valued = Set("--delimiter", "--delta")

  /** Splits `args` into positionals and options (a switch maps to "").
    * The arg after `--delimiter`/`--delta` is that option's value, never
    * a positional; an unknown `--` flag or a valued option at the end
    * fails with the usage message. */
  private def parse(args: List[String], pos: Vector[String] = Vector.empty,
      opts: Map[String, String] = Map.empty): (Vector[String], Map[String, String]) =
    args match {
      case Nil => (pos, opts)
      case k :: v :: rest if valued(k) => parse(rest, pos, opts + (k -> v))
      case k :: rest if switches(k) => parse(rest, pos, opts + (k -> ""))
      case k :: _ if k.startsWith("--") =>
        throw new IllegalArgumentException(
          s"${if (valued(k)) s"$k needs a value" else s"unknown option $k"}; $usage")
      case p :: rest => parse(rest, pos :+ p, opts)
    }

  def main(args: Array[String]): Unit = {
    val (pos, opts) = parse(args.toList)
    require(pos.length >= 2, usage)
    val (input, outDir) = (pos(0), pos(1))
    val delimiter = opts.getOrElse("--delimiter", "")
    val resume = !opts.contains("--no-resume")

    if (opts.contains("--maintenance")) {
      val spark = SparkSession.builder().appName("graft-maintenance").getOrCreate()
      val compacted = Checkpoint.compact(spark, outDir)
      val vacuumed = Checkpoint.vacuum(spark, outDir)
      println(s"""{"compacted":${compacted.map("\"" + _ + "\"").getOrElse("null")},""" +
        s""""vacuumed":[${vacuumed.map("\"" + _ + "\"").mkString(",")}]}""")
      spark.stop()
      return
    }

    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", 64)
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .getOrCreate()

    val t0 = System.nanoTime() // job time: resume + extract + commit
    val allPages = TableIO.readPages(spark, input)
    // incremental recrawl: shrink the work list to added+changed urls before
    // the (per-output) resume filter — the two compose: delta skips content
    // the PREVIOUS SNAPSHOT already had, resume skips urls THIS OUTPUT
    // already extracted
    val deltaCached = opts.get("--delta").map { prevPath =>
      val fpOf = (t: org.apache.spark.sql.DataFrame) =>
        t.select(col("url"), md5(col("html")).as("fp"))
      val d = Recrawl.delta(
        fpOf(TableIO.readPages(spark, prevPath).toDF()),
        fpOf(allPages.toDF()), "url", "fp").persist()
      val counts = d.groupBy("status").count().collect()
        .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted.mkString(",")
      println(s"""{"mode":"delta","statuses":{$counts}}""")
      d
    }
    val pages = deltaCached match {
      case Some(d) =>
        import org.apache.spark.sql.Encoders
        Recrawl.toExtract(allPages.toDF(), d, "url")
          .as[PageRow](Encoders.product[PageRow])
      case None => allPages
    }
    val todo = if (resume) Checkpoint.resume(pages, outDir) else pages
    // single atomic, one-pass commit: extraction runs inside the write
    // tasks, whose returned counts are the run metrics; data staged + renamed,
    // then the manifest rename as the commit point — a crash at any moment
    // leaves either nothing or an unmanifested (invisible, re-extracted)
    // orphan, never duplicates. A fully-resumed (empty) run commits nothing,
    // so idle re-submissions don't accumulate empty batch directories
    val m = Checkpoint.commitWithData(
      ExtractPipeline.run(ExtractPipeline.spread(todo, allPages), delimiter), outDir)
    deltaCached.foreach(_.unpersist())
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"docs":${m.docs},"chars":${m.chars},""" +
      s""""decode_failures":${m.decodeFailures},"pdf_docs":${m.pdfDocs},"resumed":$resume,""" +
      s""""wall_sec":${f"$wall%.2f"}}""")
    spark.stop()
  }
}
