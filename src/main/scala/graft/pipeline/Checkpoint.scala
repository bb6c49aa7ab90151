package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Resumable runs with ATOMIC commits, modeling Iceberg snapshot semantics
  * on plain filesystem primitives (no Iceberg runtime jar in this sandbox —
  * SURVEY.md §7; a real catalog swap is a `TableIO` config change):
  *
  *  - each commit is a `batch`: data files under `extracted/<batch>/`,
  *    manifest rows (url + the data file holding it + metrics) under
  *    `_manifest/<batch>/`;
  *  - both are first written to dot-prefixed staging directories (hidden
  *    from every Spark/Hadoop reader), then published with two renames,
  *    DATA FIRST, MANIFEST LAST — the manifest rename is the single atomic
  *    commit point;
  *  - readers go through [[readExtracted]], which lists committed manifests
  *    and reads ONLY the data batches they reference. A crash between the
  *    two renames leaves an orphan data directory that no reader sees and
  *    whose urls the next run re-extracts into a fresh batch — exactly-once
  *    output, not at-least-once;
  *  - resume is a left-anti join of the input against committed manifest
  *    urls, so a re-submitted 10^12-row job re-reads only undone work.
  *
  * The north_rule's "checkpoints per-partition with lineage + metrics" maps
  * to manifest rows (url, n_chars, decode_failures, file_name, batch) —
  * enough to resume, find the data file that holds each url, and roll up
  * run metrics without re-reading the output table. Every manifest is
  * read with that fixed schema; one written before `file_name` existed
  * carries a `part_id` column instead and reads with a null `file_name`.
  */
object Checkpoint {

  def manifestPath(outDir: String): String = s"$outDir/_manifest"
  def dataPath(outDir: String): String = s"$outDir/extracted"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newBatchId(): String =
    "batch_" + java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  /** Run metrics of one [[commitWithData]], observed during its data write. */
  final case class CommitStats(docs: Long, chars: Long, decodeFailures: Long, pdfDocs: Long)

  /** The manifest schema: url, n_chars, decode_failures, file_name, batch. */
  private lazy val manifestSchema: StructType = {
    val doc = Encoders.product[ExtractedDoc].schema
    StructType(Seq("url", "n_chars", "decode_failures").map(doc(_)) ++
      Seq(StructField("file_name", StringType), StructField("batch", StringType)))
  }

  /** Manifest rows: `file` names the data file that holds each row (null
    * when the commit writes no data). */
  private def manifestRows(rows: DataFrame, file: Column, batch: String): DataFrame =
    rows.select(col("url"), col("n_chars"), col("decode_failures"),
      file.as("file_name"), lit(batch).as("batch"))

  /** Manifest rows of a data directory this sink has just written, read
    * back from its files. The read is given the `ExtractedDoc` schema, so
    * no schema-inference job runs, and is pruned to the manifest columns. */
  private def stagedManifestRows(spark: SparkSession, dataDir: String, batch: String): DataFrame =
    manifestRows(
      spark.read.schema(Encoders.product[ExtractedDoc].schema)
        .format(tableFormat(spark)).load(dataDir),
      col("_metadata.file_name"), batch)

  private def publish(spark: SparkSession, staging: String, target: String): Unit = {
    val fs = fsOf(spark, target)
    val dst = new Path(target)
    fs.mkdirs(dst.getParent)
    // stamp the commit time BEFORE the rename (rename preserves mtimes, so
    // without this Snapshot.commitMs would order concurrent committers by
    // when they STAGED, not when they committed). Stamping pre-rename means
    // a listed manifest always carries its stamped time — there is no
    // window where a published manifest is visible with a stale mtime; the
    // stamp trails the true commit point by at most the rename duration.
    // Best-effort: a filesystem without setTimes keeps the staging-write
    // mtime (documented on snapshots()).
    try fs.setTimes(new Path(staging), System.currentTimeMillis(), -1)
    catch { case _: Exception => () }
    if (!fs.rename(new Path(staging), dst))
      throw new IllegalStateException(s"commit rename failed: $staging -> $target")
  }

  /** Atomically commit a batch of extracted docs in one pass: the data is
    * written once to staging, with no cache, under one `observe` that
    * counts its docs, chars, decode failures and PDF docs. An empty batch
    * deletes its staging dir and publishes nothing. Otherwise the manifest
    * is read back from the staged data files, so its url set equals the
    * written data by construction, even for a nondeterministic upstream.
    * Then the data dir is renamed into place and the manifest after it —
    * the commit point. Returns the observed counts. */
  def commitWithData(done: Dataset[ExtractedDoc], outDir: String): CommitStats = {
    val spark = done.sparkSession
    val batch = newBatchId()
    val dataStaging = s"${dataPath(outDir)}/.staging_$batch"
    val manStaging = s"${manifestPath(outDir)}/.staging_$batch"
    val observed = Observation()
    // data goes through the TableIO format seam (spark.graft.table.format);
    // the manifest is engine bookkeeping and stays parquet
    done.observe(observed,
        count(lit(1)).as("docs"),
        coalesce(sum("n_chars"), lit(0L)).as("chars"),
        coalesce(sum("decode_failures"), lit(0L)).as("decode_failures"),
        count_if(col("kind") === "pdf").as("pdf_docs"))
      .toDF().write.format(tableFormat(spark)).save(dataStaging)
    val m = observed.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    val stats = CommitStats(m("docs"), m("chars"), m("decode_failures"), m("pdf_docs"))
    if (stats.docs == 0) fsOf(spark, dataStaging).delete(new Path(dataStaging), true)
    else {
      stagedManifestRows(spark, dataStaging, batch).write.parquet(manStaging)
      publish(spark, dataStaging, s"${dataPath(outDir)}/$batch")
      publish(spark, manStaging, s"${manifestPath(outDir)}/$batch")
    }
    stats
  }

  /** Manifest-only commit (marks urls done without writing output data —
    * e.g. work completed by an earlier system). Same atomic publish. */
  def commit(done: Dataset[ExtractedDoc], outDir: String): Unit = {
    val spark = done.sparkSession
    val batch = newBatchId()
    val manStaging = s"${manifestPath(outDir)}/.staging_$batch"
    manifestRows(done.toDF(), lit(null).cast("string"), batch = "").write.parquet(manStaging)
    publish(spark, manStaging, s"${manifestPath(outDir)}/$batch")
  }

  /** The ONE listing predicate for committed manifest entries: `batch_`
    * directories. Staging dirs are dot-prefixed and never listed, and
    * neither is anything else under `_manifest/`. Every consumer
    * ([[committedManifests]], [[snapshots]]) goes through here. */
  private def manifestStatuses(spark: SparkSession, outDir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new Path(manifestPath(outDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch_"))
  }

  private def committedManifests(spark: SparkSession, outDir: String): Seq[String] =
    manifestStatuses(spark, outDir).map(_.getPath.toString)

  private def readManifests(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(manifestSchema).parquet(dirs: _*)

  private def tableFormat(spark: SparkSession): String =
    spark.conf.get("spark.graft.table.format", "parquet")

  /** Rows of `pages` not yet present in any committed manifest. Left-anti on
    * `url`; the manifest side is small relative to the input and
    * broadcast-eligible per AQE, so resume adds no full shuffle of the page
    * table. Refuses to run while a [[compact]] holds the maintenance lock —
    * resuming inside the compaction window would re-extract urls whose
    * manifests are transiently absent and duplicate them permanently. */
  def resume(pages: Dataset[PageRow], outDir: String): Dataset[PageRow] = {
    val spark = pages.sparkSession
    assertNoMaintenance(spark, outDir)
    doneUrls(spark, outDir) match {
      case Some(d) => pages.join(d, Seq("url"), "left_anti").as[PageRow](pages.encoder)
      case None    => pages
    }
  }

  def doneUrls(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val dirs = committedManifests(spark, outDir)
    if (dirs.isEmpty) None
    else Some(readManifests(spark, dirs).select("url").distinct())
  }

  /** Distinct data-batch names referenced by the given manifests' ROWS
    * (manifest-only commits reference none). */
  private def referencedBatches(spark: SparkSession, manifests: Seq[String]): Seq[String] =
    if (manifests.isEmpty) Nil
    else readManifests(spark, manifests)
      .select("batch").where(col("batch").isNotNull && col("batch") =!= "")
      .distinct().collect().map(_.getString(0)).toSeq

  /** Assemble the output table from the given committed batch dirs. Only
    * `batch_` directories a manifest references are read: anything else
    * under `extracted/` (an orphan batch, stray flat files) stays
    * invisible and its urls re-extract. */
  private def assembleTable(spark: SparkSession, outDir: String, batches: Seq[String]): DataFrame =
    if (batches.isEmpty)
      // schema-carrying empty table, so .select("url")/.as[ExtractedDoc]
      // work on a fresh or manifest-only outDir
      spark.emptyDataset(Encoders.product[ExtractedDoc]).toDF()
    else spark.read.format(tableFormat(spark))
      .load(batches.map(b => s"${dataPath(outDir)}/$b"): _*)

  /** The committed output table: data batches referenced by a committed
    * manifest — an orphan data directory from a crashed run is invisible
    * (see [[assembleTable]]). Definitionally the as-of read at the end of
    * time, so the two read paths cannot drift apart. */
  def readExtracted(spark: SparkSession, outDir: String): DataFrame =
    readExtractedAsOf(spark, outDir, Long.MaxValue)

  /** One committed snapshot. `name` is the manifest entry's batch name;
    * `commitMs` is the commit time ([[publish]] stamps the manifest just
    * before the rename; on a filesystem without
    * setTimes it degrades to the staging-write mtime, which still orders
    * single-committer histories correctly). Ties at millisecond
    * granularity order by name and are both included by an inclusive
    * as-of read. */
  final case class Snapshot(manifest: String, name: String, commitMs: Long)

  /** Commit history, oldest first — the Iceberg-snapshot analogue over the
    * manifest model: every committed manifest is one snapshot; the table
    * "as of" snapshot k is the union of the data batches referenced by
    * manifests 1..k. */
  def snapshots(spark: SparkSession, outDir: String): Seq[Snapshot] =
    manifestStatuses(spark, outDir)
      .map(s => Snapshot(s.getPath.toString, s.getPath.getName, s.getModificationTime))
      .sortBy(s => (s.commitMs, s.manifest))

  /** Time travel: the committed output table as of `commitMs` — the same
    * manifest-gated read as [[readExtracted]] (data batches resolved from
    * the manifests' ROWS, so manifest-only commits contribute nothing),
    * restricted to the manifests published at or before that instant.
    * `readExtractedAsOf(outDir, snapshots.last.commitMs)` equals
    * `readExtracted(outDir)`. */
  def readExtractedAsOf(spark: SparkSession, outDir: String, commitMs: Long): DataFrame = {
    val keep = snapshots(spark, outDir).filter(_.commitMs <= commitMs)
    assembleTable(spark, outDir, referencedBatches(spark, keep.map(_.manifest)))
  }

  def maintenanceLockPath(outDir: String): String = s"$outDir/_maintenance_lock"

  /** Acquire the advisory maintenance lock (atomic file create). A lock
    * older than `staleMs` is presumed crashed and replaced. Throws on a
    * live concurrent lock. */
  private def acquireMaintenanceLock(spark: SparkSession, outDir: String,
      staleMs: Long): Unit = {
    val fs = fsOf(spark, outDir)
    val p = new Path(maintenanceLockPath(outDir))
    fs.mkdirs(p.getParent)
    if (fs.exists(p)) {
      val age = System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
      if (age < staleMs)
        throw new IllegalStateException(
          s"maintenance already in progress on $outDir (lock age ${age} ms); " +
            "retry after it completes or remove a stale lock manually")
      fs.delete(p, false)
    }
    if (!fs.createNewFile(p))
      throw new IllegalStateException(s"lost the maintenance-lock race on $outDir")
  }

  private def releaseMaintenanceLock(spark: SparkSession, outDir: String): Unit =
    fsOf(spark, outDir).delete(new Path(maintenanceLockPath(outDir)), false)

  /** Acquire the maintenance lock, HEARTBEAT it (mtime refresh every
    * staleMs/4 from a daemon thread) while `body` runs, release on exit.
    * Without the heartbeat a maintenance step that outlives `staleMs`
    * loses lock protection mid-flight: [[assertNoMaintenance]] would let a
    * concurrent resume run inside compact's step-3/step-4 window (permanent
    * url duplication), and a second maintenance run would reclaim the LIVE
    * lock and operate concurrently. With it, `staleMs` only has to bound a
    * CRASHED holder's reclaim delay, not the step's duration. */
  private[graft] def withMaintenanceLock[A](spark: SparkSession, outDir: String,
      staleMs: Long)(body: => A): A = {
    require(staleMs >= 4000, s"maintenance lock staleMs=$staleMs too small to heartbeat")
    acquireMaintenanceLock(spark, outDir, staleMs)
    val fs = fsOf(spark, outDir)
    val p = new Path(maintenanceLockPath(outDir))
    val stop = new java.util.concurrent.CountDownLatch(1)
    val beat = new Thread(() => {
      while (!stop.await(staleMs / 4, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try fs.setTimes(p, System.currentTimeMillis(), -1)
        catch { case _: Exception => () } // lost lock surfaces via the holder's own failure
      }
    }, s"graft-maintenance-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      stop.countDown()
      beat.join(5000)
      releaseMaintenanceLock(spark, outDir)
    }
  }

  /** Throws when a live maintenance lock is present — called by [[resume]]
    * so an incremental run cannot observe the transient "not done" window
    * of a concurrent [[compact]] and re-extract (then duplicate) its urls. */
  private[pipeline] def assertNoMaintenance(spark: SparkSession, outDir: String,
      staleMs: Long = MaintenanceLockStaleMs): Unit = {
    val fs = fsOf(spark, outDir)
    val p = new Path(maintenanceLockPath(outDir))
    if (fs.exists(p) &&
        System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime < staleMs)
      throw new IllegalStateException(
        s"maintenance in progress on $outDir — resume would re-extract " +
          "urls mid-compaction and duplicate them; retry when it completes")
  }

  val MaintenanceLockStaleMs: Long = 6L * 3600 * 1000

  /** Compact many small committed data batches into one size-targeted
    * batch — the Iceberg `rewrite_data_files` analogue for this sink
    * (small-file maintenance: a long-running incremental job commits many
    * batches, each a handful of files; readers then pay per-file open
    * cost). Ordering preserves the sink's crash contract ("done and
    * visible, or invisible and re-extractable; never duplicates") at
    * every step:
    *
    *  1. stage compacted data + its manifest;
    *  2. publish the DATA dir — an invisible orphan (readers follow only
    *     manifest-referenced batches);
    *  3. remove the replaced manifests — their urls become "not done"; a
    *     crash here costs re-extraction work, never correctness;
    *  4. publish the new manifest — the commit point;
    *  5. delete the replaced data dirs — garbage collection; a crash
    *     leaves invisible orphans.
    *
    * Concurrency: the steps are guarded by the advisory maintenance lock
    * (atomic create of `_maintenance_lock`), and [[resume]] REFUSES to run
    * while it is held — without that guard, a resume landing between steps
    * 3 and 4 would see the compacted urls as not-done, re-extract and
    * re-commit them, and the table would show them twice forever. Writers
    * that bypass this library's API must honor the lock themselves.
    * Concurrent READS during the window see a transiently partial table,
    * and a long-running read started before compaction can fail when step
    * 5 removes files under it (this sink has no immutable-metadata
    * snapshot isolation) — schedule maintenance accordingly.
    *
    * Two documented deviations from Iceberg's rewrite: snapshot HISTORY
    * collapses (the replaced manifests are gone, so time travel spans only
    * commits after the last compaction — a filesystem sink without a
    * metadata log cannot keep rewritten lineage alive), and manifest
    * `file_name` lineage is re-derived over the compacted files.
    * Manifest-only commits are untouched.
    * Returns the new batch id; None when < 2 data batches exist. */
  def compact(spark: SparkSession, outDir: String,
      targetFileBytes: Long = 128L << 20,
      lockStaleMs: Long = MaintenanceLockStaleMs): Option[String] = {
    val mans = committedManifests(spark, outDir)
    val dataBatches = referencedBatches(spark, mans)
    if (dataBatches.size <= 1) return None
    withMaintenanceLock(spark, outDir, lockStaleMs) {
      val fs = fsOf(spark, outDir)
      val dataDirs = dataBatches.map(b => s"${dataPath(outDir)}/$b")
      val totalBytes = dataDirs
        .map(d => fs.getContentSummary(new Path(d)).getLength).sum
      val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val batch = newBatchId()
      val dataStaging = s"${dataPath(outDir)}/.staging_$batch"
      val manStaging = s"${manifestPath(outDir)}/.staging_$batch"
      val source = spark.read.format(tableFormat(spark)).load(dataDirs: _*)
      // coalesce only shrinks; growing past the read parallelism (small
      // target on big input) needs a real repartition
      val sized =
        if (nFiles < source.rdd.getNumPartitions) source.coalesce(nFiles)
        else if (nFiles > source.rdd.getNumPartitions) source.repartition(nFiles)
        else source
      sized.write.format(tableFormat(spark)).save(dataStaging)
      // manifest rows re-derive from the compacted data: the url set equals
      // the union of the replaced batches' data by construction
      stagedManifestRows(spark, dataStaging, batch).write.parquet(manStaging)
      publish(spark, dataStaging, s"${dataPath(outDir)}/$batch") // step 2
      // commitWithData names each manifest dir after its one data batch, so
      // the replaced manifests are exactly those named by a compacted batch
      // (manifest-only entries never carry such a name) — a pure
      // name check, no per-manifest read jobs
      val replaced = mans.filter(m => dataBatches.contains(new Path(m).getName))
      replaced.foreach(m => fs.delete(new Path(m), true)) // step 3
      publish(spark, manStaging, s"${manifestPath(outDir)}/$batch") // step 4
      dataDirs.foreach(d => fs.delete(new Path(d), true)) // step 5
      Some(batch)
    }
  }

  /** Remove orphaned sink artifacts — (a) data-batch directories no
    * committed manifest references (crash leftovers from the window
    * between a data publish and its manifest publish, or from [[compact]]
    * step 5 dying) and (b) `.staging_*` dirs under both the data and
    * manifest roots (a commit or compact that died mid-write) — the
    * Iceberg `remove_orphan_files` analogue. Only artifacts older than
    * `graceMs` are touched: an IN-FLIGHT commit's data dir is briefly
    * unreferenced and its staging dir briefly present by design, so a
    * concurrent committer inside the grace window is never broken. Only
    * directories are removed. Returns the removed names.
    *
    * Vacuum runs UNDER the maintenance lock: without it, a vacuum with a
    * small `graceMs` racing a concurrent [[compact]] could delete the
    * just-published compacted data dir (unreferenced between compact's
    * steps 2 and 4), after which step 4 commits a manifest referencing
    * deleted data — permanent loss. Holding the lock serializes the two
    * maintenance operations (and, via [[assertNoMaintenance]], briefly
    * blocks resume — vacuum is a listing pass, so the window is short);
    * the manifest referencing step-2 data can then never land mid-vacuum. */
  def vacuum(spark: SparkSession, outDir: String,
      graceMs: Long = 24L * 3600 * 1000,
      lockStaleMs: Long = MaintenanceLockStaleMs): Seq[String] =
    withMaintenanceLock(spark, outDir, lockStaleMs) {
      val fs = fsOf(spark, outDir)
      val cutoff = System.currentTimeMillis() - graceMs
      def removeUnder(root: Path, keep: String => Boolean): Seq[String] =
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq
          .filter(st => st.isDirectory && !keep(st.getPath.getName) &&
            st.getModificationTime < cutoff)
          .map { st => fs.delete(st.getPath, true); st.getPath.getName }
      val referenced = referencedBatches(spark, committedManifests(spark, outDir)).toSet
      removeUnder(new Path(dataPath(outDir)),
        name => !(name.startsWith("batch_") && !referenced.contains(name)) &&
          !name.startsWith(".staging_")) ++
        removeUnder(new Path(manifestPath(outDir)),
          name => !name.startsWith(".staging_"))
    }

  /** Run-level metrics rollup from the committed manifests. */
  def metrics(spark: SparkSession, outDir: String): DataFrame = {
    val dirs = committedManifests(spark, outDir)
    require(dirs.nonEmpty, s"no committed manifests under ${manifestPath(outDir)}")
    readManifests(spark, dirs)
      .agg(
        count(lit(1)).as("docs_done"),
        sum("n_chars").as("total_chars"),
        sum("decode_failures").as("total_decode_failures"))
  }
}
