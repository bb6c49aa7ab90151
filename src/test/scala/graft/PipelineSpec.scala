package graft

import graft.TempDirs.withTempDir
import graft.pipeline.{Checkpoint, Corpus, ExtractPipeline, PageRow}
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end Spark tests of the extraction pipeline and its commit
  * protocol, on tiny in-memory corpora (the sf tables are exercised by the
  * driver's Verify gate; these cover edge cases the synthetic tables lack). */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-pipeline-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .master("local[4]")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def roundTrip(texts: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    val out = ExtractPipeline.run(pages, delimiter = "").collect().map(d => d.url -> d).toMap
    texts.foreach { case (id, t) =>
      val d = out(Corpus.UrlPrefix + id)
      assert(d.error == "" || id % 2 == 0 && Corpus.pdfVariant(id) == 7,
        s"doc $id error: ${d.error}") // variant 7 records tolerated-malformation notes
      assert(d.decode_failures == 0, s"doc $id failures: ${d.error}")
      val want = if (id % 2 == 0) Corpus.pdfExpectedText(id, t) else t
      assert(d.text == want, s"doc $id: got ${d.text.take(80)}... want ${want.take(80)}...")
      assert(d.kind == (if (id % 2 == 0) "pdf" else "html"))
    }
  }

  test("pdf+html round-trip: plain, specials, long, short, all 9 pdf variants") {
    val long = ("the quick brown fox jumps over seventeen lazy dogs daily " * 12).trim
    val texts = Seq[(Long, String)](
      0L -> "hello world",
      1L -> "hello world",
      2L -> long, // variant 1: Td/TD/T* newlines over a multi-page doc
      3L -> long,
      4L -> "parens (nested (deep)) and backslash \\ and ) stray", // variant 2: rot13 font
      5L -> "amp & lt < gt > mixed &amp; entities",
      6L -> "x", // single char, variant 3: encrypted
      7L -> "y",
      8L -> long, // variant 4: xref stream + ObjStm
      10L -> long, // variant 5: Tm newlines
      12L -> long, // variant 6: incremental update
      14L -> long, // variant 7: malformed tolerances
      // NumPdfVariants is 9, so the variant of doc id is (id/2) % 9:
      16L -> "It's quoted: 'single' and `backtick` and \"double\"", // variant 8: linearized front-xref
      18L -> long, // variant 0 on a multi-page doc
      22L -> "MiXeD CaSe RoT13 text With Digits 0123456789 and UPPER lower") // variant 2: rot13 font is case-sensitive
    roundTrip(texts)
  }

  test("pdf span/page accounting matches the chunking contract") {
    import spark.implicits._
    val t = "z" * 1000 // 16 chunks -> 2 pages
    val pages = Seq(Corpus.pageRowFor(42L, t, "en")).toDS()
    val d = ExtractPipeline.run(pages, delimiter = "").collect().head
    assert(d.pages == Corpus.pdfPageCount(t))
    assert(d.pages == 2)
    assert(d.spans.length == 2)
    assert(d.spans.map(s => d.text.substring(s.start, s.end)).mkString
      == Corpus.pdfExpectedText(42L, t))
  }

  test("malformed payload becomes an error row, not an exception") {
    import spark.implicits._
    val junk = "%PDF-1.4 this is not really a pdf".getBytes("ISO-8859-1")
    val pages = Seq(PageRow("u1", new java.sql.Timestamp(0), junk, "", "en")).toDS()
    val d = ExtractPipeline.run(pages).collect().head
    assert(d.decode_failures >= 1)
    assert(d.error.nonEmpty)
    assert(d.kind == "pdf")
  }

  test("extractRows: committed rows equal run's, and its schema is ExtractedDoc's") {
    import spark.implicits._
    // ids 0..17 hold all 9 pdf layouts (even ids) and html pages (odd ids)
    val corpus = (0L until 18L).map(i => Corpus.pageRowFor(i, s"converter document $i words", "en")) ++ Seq(
      PageRow("u/junk", new java.sql.Timestamp(0), "%PDF-1.4 not a pdf".getBytes("ISO-8859-1"), "", "en"),
      PageRow("u/empty", new java.sql.Timestamp(0), Array.emptyByteArray, "", "en"),
      Corpus.pageRowFor(40L, "null lang pdf", null), Corpus.pageRowFor(41L, "null lang html", null))
    val pages = corpus.toDS().repartition(3)
    assert(ExtractPipeline.DocSchema == org.apache.spark.sql.Encoders.product[graft.pipeline.ExtractedDoc].schema)
    withTempDir("graft_spec_rows") { dir =>
      val stats = Checkpoint.commitRows(ExtractPipeline.extractRows(pages), s"$dir/rows")
      Checkpoint.commitWithData(ExtractPipeline.run(pages), s"$dir/typed")
      val got = Checkpoint.readExtracted(spark, s"$dir/rows")
      val want = ExtractPipeline.run(pages).toDF()
      assert(got.count() == corpus.size && stats.docs == corpus.size)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      val kinds = got.groupBy("kind").count().as[(String, Long)].collect().toMap
      assert(kinds == Map("pdf" -> 11L, "html" -> 10L, "empty" -> 1L), kinds)
      assert(got.where(col("lang").isNull).count() == 2 && got.where(col("error") =!= "").count() >= 2)
      // both commits write the same parquet schema, required columns included
      def fileSchema(out: String) = Checkpoint.manifests(spark, out).head.files.map(f =>
        ParquetFileReader.readFooter(HadoopInputFile.fromPath(new Path(f), spark.sparkContext.hadoopConfiguration),
          ParquetMetadataConverter.NO_FILTER).getFileMetaData.getSchema).distinct
      assert(fileSchema(s"$dir/rows") == fileSchema(s"$dir/typed"))
    }
  }

  test("resume: the committed urls are broadcast to the anti-join with no shuffle under it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
    val pages = (0L until 8L).map(i => Corpus.pageRowFor(i, s"resume plan doc $i words", "en")).toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_resume_plan") { outDir =>
      (0 until 2).foreach(r => Checkpoint.commitWithData(ExtractPipeline.run(pages.where(docId % 4 === r)), outDir))
      val todo = Checkpoint.resume(pages, outDir)
      val left = todo.collect().map(_.url).toSet
      val plan = todo.queryExecution.executedPlan
      val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: Exchange => e }
      assert(exchanges.nonEmpty && exchanges.forall(_.isInstanceOf[BroadcastExchangeExec]), plan.treeString)
      assert(left == Set(2L, 3L, 6L, 7L).map(Corpus.UrlPrefix + _))
    }
  }

  test("checkpoint commit + resume skips completed urls") {
    import spark.implicits._
    val texts = (0L until 20L).map(i => i -> s"document number $i with some words")
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    withTempDir("graft_spec_ckpt") { outDir =>
      val first = ExtractPipeline.run(pages.where(element_at(split(col("url"), "/"), -1).cast("long") < 5))
      Checkpoint.commitWithData(first, outDir)
      val remaining = Checkpoint.resume(pages, outDir)
      val ids = remaining.collect().map(_.url.split("/").last.toLong).sorted
      assert(ids.toSeq == (5L until 20L).toSeq)
      // committing the rest empties the backlog
      Checkpoint.commitWithData(ExtractPipeline.run(remaining), outDir)
      assert(Checkpoint.resume(pages, outDir).count() == 0)
      assert(Checkpoint.manifests(spark, outDir).map(_.stats.docs).sum == 20L)
    }
  }

  test("atomic commit: an orphan (unmanifested) data batch is invisible and its urls re-run") {
    import spark.implicits._
    val texts = (0L until 10L).map(i => i -> s"document number $i body words here")
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_atomic") { outDir =>
      Checkpoint.commitWithData(ExtractPipeline.run(pages.where(docId < 4)), outDir)
      assert(Checkpoint.readExtracted(spark, outDir).count() == 4)
      // crash window between data rename and manifest rename: data batch
      // exists on disk but no manifest references it
      ExtractPipeline.run(pages.where(docId >= 4)).toDF()
        .write.parquet(Checkpoint.dataPath(outDir) + "/batch_orphan")
      assert(Checkpoint.readExtracted(spark, outDir).count() == 4, "orphan batch leaked into reads")
      val remaining = Checkpoint.resume(pages, outDir)
      assert(remaining.count() == 6, "orphaned urls must be re-extracted")
      Checkpoint.commitWithData(ExtractPipeline.run(remaining), outDir)
      val out = Checkpoint.readExtracted(spark, outDir)
      assert(out.count() == 10)
      assert(out.select("url").distinct().count() == 10, "duplicate rows after crash-resume")
      assert(Checkpoint.resume(pages, outDir).count() == 0)
      // vacuum: the orphan is removable once past the grace window, but a
      // fresh (possibly in-flight) orphan inside it is protected
      assert(Checkpoint.vacuum(spark, outDir).isEmpty,
        "default grace must protect a freshly-written orphan")
      val removed = Checkpoint.vacuum(spark, outDir, graceMs = -1000L)
      assert(removed == Seq("batch_orphan"), s"removed=$removed")
      assert(Checkpoint.readExtracted(spark, outDir).count() == 10,
        "vacuum must not touch referenced batches")
      assert(Checkpoint.vacuum(spark, outDir, graceMs = -1000L).isEmpty)
      // each batch's manifest lists exactly the visible files of its data
      // batch, with their row count, and every url's file is among them
      def batchDirs(root: String) = new java.io.File(root).listFiles
        .filter(_.getName.startsWith("batch_")).map(_.getName).sorted.toSeq
      val batches = batchDirs(Checkpoint.manifestPath(outDir))
      assert(batches.size == 2 && batchDirs(Checkpoint.dataPath(outDir)) == batches)
      val manifests = Checkpoint.manifests(spark, outDir).map(m => m.name -> m).toMap
      batches.foreach { b =>
        val m = manifests(b)
        assert(m.dataBatch == b)
        val listed = m.files.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
        val visible = new java.io.File(s"${Checkpoint.dataPath(outDir)}/$b").list
          .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
        assert(listed == visible, s"manifest of $b differs from its data files")
        val held = spark.read.parquet(s"${Checkpoint.dataPath(outDir)}/$b")
          .select(col("url"), col("_metadata.file_name")).as[(String, String)].collect()
        assert(held.nonEmpty && held.forall { case (_, f) => listed.contains(f) },
          s"a url of $b sits in a file its manifest does not list")
        assert(m.stats.docs == held.length)
      }
      // an empty commit returns 0 docs without waiting forever for its
      // observation, and leaves no batch and no staging dir behind
      def listing() = Seq(Checkpoint.dataPath(outDir), Checkpoint.manifestPath(outDir))
        .map(d => new java.io.File(d).list.toSeq.sorted)
      val before = listing()
      Seq(spark.emptyDataset[graft.pipeline.ExtractedDoc], ExtractPipeline.run(pages.where(docId < 0)))
        .foreach { empty =>
          import scala.concurrent.{Await, Future}, scala.concurrent.duration._
          import scala.concurrent.ExecutionContext.Implicits.global
          val stats = Await.result(Future(Checkpoint.commitWithData(empty, outDir)), 2.minutes)
          assert(stats == Checkpoint.CommitStats(0, 0, 0, 0))
          assert(listing() == before, "an empty commit must publish nothing")
        }
    }
  }

  test("metrics: the sum of the totals each commit observed") {
    import spark.implicits._
    val texts = (0L until 9L).map(i => i -> s"metrics document $i body words")
    val junk = PageRow(Corpus.UrlPrefix + 99, new java.sql.Timestamp(0),
      "%PDF-1.4 this is not really a pdf".getBytes("ISO-8859-1"), "", "en")
    val pages = (texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") } :+ junk).toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_metrics") { outDir =>
      val stats = Seq(pages.where(docId < 4), pages.where(docId >= 4))
        .map(p => Checkpoint.commitWithData(ExtractPipeline.run(p), outDir))
      val total = stats.reduce(_ + _)
      assert(total.docs == 10 && total.pdfDocs == 6 && total.decodeFailures >= 1)
      assert(Checkpoint.manifests(spark, outDir).map(_.stats).reduce(_ + _) == total)
      // the totals agree with the table itself, and survive compaction
      val table = Checkpoint.readExtracted(spark, outDir)
        .agg(count(lit(1)), sum("n_chars"), sum("decode_failures")).as[(Long, Long, Long)].head
      assert(table == ((total.docs, total.chars, total.decodeFailures)))
      assert(Checkpoint.compact(spark, outDir).isDefined)
      assert(Checkpoint.manifests(spark, outDir).map(_.stats) == Seq(total))
    }
  }

  test("compact: content identical, one data batch remains, resume stays empty") {
    import spark.implicits._
    val texts = (0L until 12L).map(i => i -> s"document number $i body words here")
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_compact") { outDir =>
      (0 until 3).foreach(r => Checkpoint.commitWithData(
        ExtractPipeline.run(pages.where(docId % 3 === r)), outDir))
      // sorted SEQUENCES, not sets: a rewrite that duplicated or dropped a
      // row is exactly what this comparison must catch
      def content() = Checkpoint.readExtracted(spark, outDir)
        .select("url", "text", "n_chars").collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      val before = content()
      def dataBatchDirs = new java.io.File(Checkpoint.dataPath(outDir))
        .listFiles.filter(f => f.isDirectory && f.getName.startsWith("batch_")).toSeq
      assert(dataBatchDirs.size == 3)
      val newBatch = Checkpoint.compact(spark, outDir)
      assert(newBatch.isDefined)
      assert(dataBatchDirs.map(_.getName) == Seq(newBatch.get), "exactly the compacted batch remains")
      assert(content() == before, "compaction must not change table content")
      assert(!new java.io.File(Checkpoint.maintenanceLockPath(outDir)).exists,
        "maintenance lock must be released")
      assert(Checkpoint.resume(pages, outDir).count() == 0, "every url must stay done")
      assert(Checkpoint.manifests(spark, outDir).map(_.stats.docs) == Seq(12L))
      // nothing left to compact
      assert(Checkpoint.compact(spark, outDir).isEmpty)
    }
  }

  /** The codec of every column chunk in `files`, read from their footers. */
  private def codecs(files: Seq[String]): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      ParquetFileReader.readFooter(HadoopInputFile.fromPath(new Path(f), conf),
          ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
    }.toSet
  }

  test("codec: every data file that commitWithData and compact write is zstd") {
    import spark.implicits._
    val pages = (0L until 12L).map(i => Corpus.pageRowFor(i, s"codec document $i body words", "en")).toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_codec") { outDir =>
      (0 until 3).foreach(r => Checkpoint.commitWithData(
        ExtractPipeline.run(pages.where(docId % 3 === r)), outDir))
      val committed = Checkpoint.manifests(spark, outDir)
      assert(committed.size == 3)
      committed.foreach(m => assert(codecs(m.files) == Set("ZSTD"), m.name))
      assert(Checkpoint.compact(spark, outDir).isDefined)
      val compacted = Checkpoint.manifests(spark, outDir)
      assert(compacted.size == 1)
      assert(codecs(compacted.head.files) == Set("ZSTD"))
    }
  }

  test("codec: an earlier snappy batch stays readable, resumable and compacts to zstd") {
    import spark.implicits._
    val pages = (0L until 10L).map(i => Corpus.pageRowFor(i, s"legacy codec doc $i words", "en")).toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_snappy") { outDir =>
      // the first batch as an earlier build committed it: snappy data files
      // under extracted/<batch>/ and their manifest.json file list
      val old = "batch_snappy00000000"
      val oldDocs = ExtractPipeline.run(pages.where(docId < 4)).toDF()
      oldDocs.write.option("compression", "snappy").parquet(s"${Checkpoint.dataPath(outDir)}/$old")
      val oldFiles = new java.io.File(s"${Checkpoint.dataPath(outDir)}/$old").list
        .filter(_.endsWith(".parquet")).sorted.toSeq
      assert(codecs(oldFiles.map(f => s"${Checkpoint.dataPath(outDir)}/$old/$f")) == Set("SNAPPY"))
      val (docs, chars, fails, pdfs) = oldDocs.agg(count(lit(1)), sum("n_chars"),
        sum("decode_failures"), count_if(col("kind") === "pdf")).as[(Long, Long, Long, Long)].head
      val manDir = new java.io.File(s"${Checkpoint.manifestPath(outDir)}/$old")
      assert(manDir.mkdirs())
      java.nio.file.Files.writeString(new java.io.File(manDir, Checkpoint.ManifestFile).toPath,
        s"""{"batch":"$old","format":"parquet","files":[${oldFiles.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""docs":$docs,"chars":$chars,"decode_failures":$fails,"pdf_docs":$pdfs}""")
      Checkpoint.commitWithData(ExtractPipeline.run(pages.where(docId >= 4)), outDir)
      def content() = Checkpoint.readExtracted(spark, outDir).select("url", "text", "n_chars").collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      val before = content()
      assert(before.map(_.head).sorted == (0L until 10L).map(Corpus.UrlPrefix + _).sorted,
        "every url of both batches exactly once")
      assert(Checkpoint.resume(pages, outDir).count() == 0, "resume skips both batches' urls")
      assert(Checkpoint.compact(spark, outDir).isDefined)
      val batches = Checkpoint.manifests(spark, outDir)
      assert(batches.size == 1)
      assert(content() == before, "compaction must not change table content")
      assert(codecs(batches.head.files) == Set("ZSTD"))
    }
  }

  test("maintenance lock: resume refuses mid-compaction; stale locks are reclaimed") {
    import spark.implicits._
    val texts = (0L until 6L).map(i => i -> s"document number $i body words here")
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_lock") { outDir =>
      (0 until 2).foreach(r => Checkpoint.commitWithData(
        ExtractPipeline.run(pages.where(docId % 2 === r)), outDir))
      // simulate an in-flight compact: a fresh lock file
      val lock = new java.io.File(Checkpoint.maintenanceLockPath(outDir))
      assert(lock.createNewFile())
      val ex = intercept[IllegalStateException](Checkpoint.resume(pages, outDir).count())
      assert(ex.getMessage.contains("maintenance in progress"))
      val ex2 = intercept[IllegalStateException](Checkpoint.compact(spark, outDir))
      assert(ex2.getMessage.contains("maintenance already in progress"))
      // a crashed compact's stale lock must not wedge the sink forever
      assert(lock.setLastModified(System.currentTimeMillis() - Checkpoint.MaintenanceLockStaleMs - 1000))
      assert(Checkpoint.resume(pages, outDir).count() == 0) // stale lock ignored
      assert(Checkpoint.compact(spark, outDir).isDefined)   // stale lock reclaimed
      assert(!lock.exists, "lock released after compaction")
    }
  }

  test("maintenance lock: heartbeat keeps a long-running holder live past staleMs") {
    withTempDir("graft_spec_beat") { outDir =>
      val lock = new java.io.File(Checkpoint.maintenanceLockPath(outDir))
      // without the heartbeat, a holder that outlives staleMs loses lock
      // protection mid-flight: after the sleep the mtime would be > staleMs
      // old and a competing acquire would reclaim the LIVE lock
      Checkpoint.withMaintenanceLock(spark, outDir, staleMs = 4000L) {
        Thread.sleep(5000L) // outlive staleMs inside the critical section
        val age = System.currentTimeMillis() - lock.lastModified()
        assert(age < 4000L, s"heartbeat must keep the lock fresh, age=$age ms")
        val ex = intercept[IllegalStateException](
          Checkpoint.withMaintenanceLock(spark, outDir, staleMs = 4000L)(()))
        assert(ex.getMessage.contains("maintenance already in progress"),
          "a live heartbeated lock must still repel competing maintenance")
      }
      assert(!lock.exists, "lock released after the body returns")
    }
  }

  test("vacuum serializes with compact via the maintenance lock") {
    withTempDir("graft_spec_vlock") { outDir =>
      new java.io.File(outDir).mkdirs()
      val lock = new java.io.File(Checkpoint.maintenanceLockPath(outDir))
      assert(lock.createNewFile()) // fresh foreign lock = compact in flight
      // racing a compact, vacuum could delete the just-published compacted
      // data dir (unreferenced between compact's steps 2 and 4) — it must
      // refuse while the lock is live
      val ex = intercept[IllegalStateException](Checkpoint.vacuum(spark, outDir))
      assert(ex.getMessage.contains("maintenance already in progress"))
      lock.delete()
      assert(Checkpoint.vacuum(spark, outDir).isEmpty) // empty sink, lock free
      assert(!lock.exists, "vacuum releases the lock it took")
    }
  }

  test("query inventory: every query has an oracle and the count is pinned") {
    // the README/NOTES quote this number; pinning it here keeps the prose
    // from drifting (r4 verdict item 7). Update BOTH on every new query.
    assert(SparkEntry.queries.size == 14,
      s"queries=${SparkEntry.queries.size} — update this pin AND README.md")
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      "every query needs a DuckDB oracle (and no orphaned oracles): " +
        (SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet).mkString(",") + " | " +
        (SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet).mkString(","))
  }

  test("Recrawl.delta: presence flags beat null fingerprints; toExtract filters") {
    import spark.implicits._
    val prev = Seq(("u1", "a"), ("u2", "b"), ("u3", null), ("u4", "d")).toDF("url", "fp")
    val next = Seq(("u1", "a"), ("u2", "B"), ("u3", null), ("u5", "e")).toDF("url", "fp")
    val d = graft.pipeline.Recrawl.delta(prev, next, "url", "fp")
      .as[(String, String)].collect().toMap
    assert(d == Map(
      "u1" -> "unchanged",
      "u2" -> "changed",
      "u3" -> "changed", // null fp present on BOTH sides is never unchanged
      "u4" -> "removed",
      "u5" -> "added"))
    val work = graft.pipeline.Recrawl.toExtract(next,
      graft.pipeline.Recrawl.delta(prev, next, "url", "fp"), "url")
      .select("url").as[String].collect().toSet
    assert(work == Set("u2", "u3", "u5"))
  }

  test("table-format seam: commit + crash-orphan + resume round-trips under ORC") {
    import spark.implicits._
    val texts = (0L until 12L).map(i => i -> s"orc seam document $i body words")
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    def docId = element_at(split(col("url"), "/"), -1).cast("long")
    withTempDir("graft_spec_orc") { outDir =>
      spark.conf.set("spark.graft.table.format", "orc")
      try {
        Checkpoint.commitWithData(ExtractPipeline.run(pages.where(docId < 5)), outDir)
        assert(Checkpoint.readExtracted(spark, outDir).count() == 5)
        // data files really are ORC, not parquet
        val batchDirs = new java.io.File(Checkpoint.dataPath(outDir)).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
        assert(batchDirs.nonEmpty)
        assert(batchDirs.flatMap(_.listFiles()).exists(_.getName.endsWith(".orc")),
          "expected .orc data files under the committed batch")
        // crash window: orphan ORC batch is invisible until committed
        ExtractPipeline.run(pages.where(docId >= 5)).toDF()
          .write.orc(Checkpoint.dataPath(outDir) + "/batch_orphan")
        assert(Checkpoint.readExtracted(spark, outDir).count() == 5)
        val remaining = Checkpoint.resume(pages, outDir)
        assert(remaining.count() == 7)
        Checkpoint.commitWithData(ExtractPipeline.run(remaining), outDir)
        val out = Checkpoint.readExtracted(spark, outDir)
        assert(out.count() == 12 && out.select("url").distinct().count() == 12)
        assert(Checkpoint.resume(pages, outDir).count() == 0)
      } finally spark.conf.unset("spark.graft.table.format")
    }
  }

  test("exactly-once: ORPHAN legacy flat data (no legacy manifest) stays invisible") {
    import spark.implicits._
    val texts = (0L until 6L).map(i => i -> s"orphan legacy doc $i words")
    val pages = texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
    withTempDir("graft_spec_orphleg") { outDir =>
      // a legacy run crashed AFTER writing flat data, BEFORE its manifest:
      // flat part-files exist, but no manifest vouches for them
      ExtractPipeline.run(pages.limit(3)).toDF().coalesce(1).write.parquet(s"$outDir/.stage")
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(Checkpoint.dataPath(outDir)))
      new java.io.File(s"$outDir/.stage").listFiles()
        .filter(_.getName.startsWith("part-")).foreach { f =>
          fs.rename(new org.apache.hadoop.fs.Path(f.getPath),
            new org.apache.hadoop.fs.Path(s"${Checkpoint.dataPath(outDir)}/${f.getName}"))
        }
      // a NEW-layout commit must not make the orphan visible
      Checkpoint.commitWithData(ExtractPipeline.run(pages), outDir)
      val out = Checkpoint.readExtracted(spark, outDir)
      assert(out.count() == 6, "orphan legacy flat files leaked into reads")
      assert(out.select("url").distinct().count() == 6, "duplicate urls from orphan leak")
    }
  }

  test("only batch_ directories holding manifest.json are committed manifests: a flat manifest file or a parquet-row batch marks nothing done") {
    import spark.implicits._
    val pages = (0L until 6L).map(i => Corpus.pageRowFor(i, s"flat manifest doc $i words", "en")).toDS()
    withTempDir("graft_spec_flatman") { outDir =>
      // a flat part- file of manifest rows directly under _manifest/, as the
      // pre-atomic layout wrote it: not a batch, so it vouches for nothing
      ExtractPipeline.run(pages).select("url", "n_chars", "decode_failures")
        .coalesce(1).write.parquet(s"$outDir/.flat")
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(Checkpoint.manifestPath(outDir)))
      new java.io.File(s"$outDir/.flat").listFiles()
        .filter(_.getName.startsWith("part-")).foreach { f =>
          fs.rename(new org.apache.hadoop.fs.Path(f.getPath),
            new org.apache.hadoop.fs.Path(s"${Checkpoint.manifestPath(outDir)}/${f.getName}"))
        }
      // a batch_ directory of parquet manifest rows, as written before the
      // file list, plus the data batch it names: without a manifest.json it
      // commits nothing, so its data batch stays invisible too
      val old = "batch_partid"
      val oldDocs = ExtractPipeline.run(pages).toDF()
      oldDocs.write.parquet(s"${Checkpoint.dataPath(outDir)}/$old")
      oldDocs.select(col("url"), col("n_chars"), col("decode_failures"),
          spark_partition_id().as("part_id"), lit(old).as("batch"))
        .write.parquet(s"${Checkpoint.manifestPath(outDir)}/$old")
      assert(Checkpoint.manifests(spark, outDir).isEmpty)
      assert(Checkpoint.resume(pages, outDir).count() == 6)
      assert(Checkpoint.readExtracted(spark, outDir).count() == 0)
      // the first real commit is the only manifest, and the flat file and the
      // parquet-row batch stay out: each url is visible exactly once
      Checkpoint.commitWithData(ExtractPipeline.run(pages), outDir)
      assert(Checkpoint.manifests(spark, outDir).map(_.name.startsWith("batch_")) == Seq(true))
      assert(!Checkpoint.manifests(spark, outDir).exists(_.name == old))
      assert(Checkpoint.readExtracted(spark, outDir).count() == 6)
      assert(Checkpoint.readExtracted(spark, outDir).select("url").distinct().count() == 6)
      assert(Checkpoint.manifests(spark, outDir).map(_.stats.docs).sum == 6)
    }
  }

  test("a manifest that names no data batch fails reading with a clear error") {
    withTempDir("graft_spec_nobatch") { outDir =>
      // a manifest-only commit, as an earlier build could write one: a file
      // list with no "batch"
      val manDir = new java.io.File(s"${Checkpoint.manifestPath(outDir)}/batch_nodata")
      assert(manDir.mkdirs())
      java.nio.file.Files.writeString(new java.io.File(manDir, Checkpoint.ManifestFile).toPath,
        """{"format":"parquet","files":[],"docs":0,"chars":0,"decode_failures":0,"pdf_docs":0}""")
      val e = intercept[IllegalStateException](Checkpoint.manifests(spark, outDir))
      assert(e.getMessage.contains("batch_nodata has no data batch"), e.getMessage)
    }
  }

  test("captureLines: pdf span source lines match the reference's CR/LF/CRLF rules") {
    import spark.implicits._
    val t = ("alpha beta gamma delta " * 40).trim // multi-page pdf (even id)
    val pages = Seq(Corpus.pageRowFor(42L, t, "en")).toDS()
    val d = ExtractPipeline.run(pages, delimiter = "", captureLines = true).collect().head
    assert(d.spans.nonEmpty)
    val raw = Corpus.pdfForDoc(42L, t) // deterministic: same bytes the corpus built
    d.spans.foreach { s =>
      // independent line count over the raw bytes: CR, LF, CRLF = 1 each
      var line = 1
      var i = 0
      while (i < s.src_offset) {
        (raw(i): @unchecked) match {
          case 0x0d => line += 1; if (i + 1 < raw.length && raw(i + 1) == 0x0a) i += 1
          case 0x0a => line += 1
          case _ =>
        }
        i += 1
      }
      assert(s.src_line == line, s"span at ${s.src_offset}")
      assert(s.src_line > 1) // content streams sit well below the header
    }
    // bulk path default: lines off, sentinel -1
    val bulk = ExtractPipeline.run(pages, delimiter = "").collect().head
    assert(bulk.spans.forall(_.src_line == -1))
  }

  test("captureLines: html span source lines match an independent newline count") {
    import spark.implicits._
    val t = ("alpha beta gamma delta " * 20).trim
    val pages = Seq(Corpus.pageRowFor(43L, t, "en")).toDS() // odd id -> html
    val d = ExtractPipeline.run(pages, delimiter = "", captureLines = true).collect().head
    assert(d.kind == "html" && d.spans.nonEmpty)
    val html = new String(Corpus.htmlFromText(t, 43L), java.nio.charset.StandardCharsets.UTF_8)
    d.spans.foreach { s =>
      val want = 1 + html.substring(0, s.src_offset).count(_ == '\n')
      assert(s.src_line == want, s"span at ${s.src_offset}")
      assert(s.src_line > 1)
    }
  }

  test("spread: a one-row-group skewed corpus is hash-spread by url") {
    import spark.implicits._
    // 1 giant doc (500 KB text -> multi-MB pdf) + 600 tiny docs, written as
    // ONE parquet file: one task would read the whole row group, so spread()
    // hashes the rows over 2 x 4 partitions
    val giant = Corpus.pageRowFor(0L, "x" * 500000, "en")
    val tiny = (1L to 600L).map(i => Corpus.pageRowFor(i, s"tiny doc number $i", "en"))
    withTempDir("graft_skew") { dir =>
      def table(files: Int, name: String) = {
        (giant +: tiny).toDS().repartition(files).write.parquet(s"$dir/$name")
        spark.read.parquet(s"$dir/$name").as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
      }
      val one = table(1, "one")
      val spread = ExtractPipeline.spread(one, one)
      val perPart = spread.mapPartitions(it => Iterator.single(it.size)).collect()
      assert(perPart.length == 8)
      assert(perPart.count(_ > 0) >= 6, perPart.mkString(",")) // spread, not piled
      // extraction result unchanged by the repartition
      val a = ExtractPipeline.run(one).select("url", "n_chars").collect().toSet
      val b = ExtractPipeline.run(spread).select("url", "n_chars").collect().toSet
      assert(a == b)
      // with a row group for each of the 4 cores, the scan splits are kept
      val four = table(4, "four")
      assert(ExtractPipeline.spread(four, four) eq four)
    }
  }
}
