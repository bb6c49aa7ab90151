package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Resumable runs with ATOMIC commits, modeling Iceberg snapshot semantics
  * on plain filesystem primitives (no Iceberg runtime jar in this sandbox —
  * SURVEY.md §7; a real catalog swap is a `TableIO` config change):
  *
  *  - each commit is a `batch`: data files under `extracted/<batch>/` and
  *    a manifest directory `_manifest/<batch>/` holding one small JSON file,
  *    [[ManifestFile]]. Like an Iceberg manifest, it is a file list: the
  *    names of the batch's data files, their format, and the commit's
  *    observed [[CommitStats]] totals. The driver writes it with the Hadoop
  *    FS API from the staged listing and the observation, so a commit runs
  *    one Spark job, its data write;
  *  - both are first written to dot-prefixed staging directories (hidden
  *    from every Spark/Hadoop reader), then published with two renames,
  *    DATA FIRST, MANIFEST LAST — the manifest rename is the single atomic
  *    commit point;
  *  - readers go through [[manifests]], which lists committed manifests
  *    and reads their files on the driver: [[readExtracted]] reads ONLY the
  *    data batches they reference, [[metrics]] sums their totals, and
  *    [[resume]] reads just the `url` column of the files they name. A
  *    crash between the two renames leaves an orphan data directory that
  *    no reader sees and whose urls the next run re-extracts into a fresh
  *    batch — exactly-once output, not at-least-once;
  *  - resume is a left-anti join of the input against those urls, so a
  *    re-submitted 10^12-row job re-reads only undone work;
  *  - data files are zstd parquet, whichever commit path writes them
  *    ([[commitWithData]], [[commit]]'s url files, [[compact]]). Batches
  *    committed as snappy parquet before zstd stay readable and resumable,
  *    since every reader takes the codec from the file footer, and the next
  *    [[compact]] rewrites them as zstd.
  *
  * The north_rule's "checkpoints per-partition with lineage + metrics" maps
  * to the file list (which data file holds each url is the `_metadata`
  * of the files it names) and the recorded totals, which roll up run
  * metrics without re-reading the output table. A manifest-only [[commit]]
  * has no data batch: it writes its urls as parquet files under its
  * manifest directory, and its file list names them. Resolving the
  * manifests runs no Spark job. A `batch_` directory without a file list
  * (the parquet-row manifests written before it) is not a committed
  * manifest: it marks nothing done and its data batch stays invisible, so
  * the next run re-extracts those urls once.
  */
object Checkpoint {

  def manifestPath(outDir: String): String = s"$outDir/_manifest"
  def dataPath(outDir: String): String = s"$outDir/extracted"

  /** The file list inside every manifest directory this sink writes. */
  val ManifestFile = "manifest.json"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newBatchId(): String =
    "batch_" + java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  private val json = new ObjectMapper()

  /** Totals of one commit, observed during its write. */
  final case class CommitStats(docs: Long, chars: Long, decodeFailures: Long, pdfDocs: Long) {
    def +(o: CommitStats): CommitStats =
      CommitStats(docs + o.docs, chars + o.chars, decodeFailures + o.decodeFailures, pdfDocs + o.pdfDocs)
  }

  /** One committed manifest. `dataBatch` is the `extracted/` directory it
    * publishes (None for a manifest-only commit); `files` are the full
    * paths of the `format` files that hold its urls; `stats` are the
    * recorded totals. */
  final case class Manifest(name: String, dataBatch: Option[String], format: String,
      files: Seq[String], stats: CommitStats)

  /** Writes `rows` (`ExtractedDoc` columns) to `dir` in `format` after
    * `keep` projects them, in one job under one `observe` that counts
    * docs, chars, decode failures and PDF docs. The files are zstd at its
    * default level 3: rewriting a 10k-page output in one task, levels 6,
    * 9 and 19 stored 8%, 10% and 25% fewer bytes but took 1.3, 1.5 and
    * 22 times as long to write. */
  private def writeObserved(rows: DataFrame, format: String, dir: String)(
      keep: DataFrame => DataFrame = identity): CommitStats = {
    val observed = Observation()
    keep(rows.observe(observed,
        count(lit(1)).as("docs"),
        coalesce(sum("n_chars"), lit(0L)).as("chars"),
        coalesce(sum("decode_failures"), lit(0L)).as("decode_failures"),
        count_if(col("kind") === "pdf").as("pdf_docs")))
      .write.format(format).option("compression", "zstd").save(dir)
    val m = observed.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    CommitStats(m("docs"), m("chars"), m("decode_failures"), m("pdf_docs"))
  }

  /** Names of the visible files a write left in `dir`, sorted. */
  private def visibleFiles(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted

  /** Writes the file list into the staging manifest directory `dir`.
    * `files` are paths relative to `extracted/<batch>/`, or to `dir` itself
    * when `batch` is None. */
  private def writeManifest(fs: FileSystem, dir: Path, batch: Option[String], format: String,
      files: Seq[String], stats: CommitStats): Unit = {
    val m = json.createObjectNode()
    batch.foreach(m.put("batch", _))
    m.put("format", format)
    val list = m.putArray("files")
    files.foreach(list.add)
    m.put("docs", stats.docs).put("chars", stats.chars)
      .put("decode_failures", stats.decodeFailures).put("pdf_docs", stats.pdfDocs)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, ManifestFile), false)
    try out.write(json.writeValueAsBytes(m)) finally out.close()
  }

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
    * written once to staging, with no cache, under one `observe` (see
    * [[writeObserved]]). An empty batch deletes its staging dir and
    * publishes nothing. Otherwise the driver lists the staged data files
    * into the manifest with the observed totals — so the manifest names
    * exactly the files written, even for a nondeterministic upstream — and
    * no second job runs. Then the data dir is renamed into place and the
    * manifest after it — the commit point. Returns the observed counts. */
  def commitWithData(done: Dataset[ExtractedDoc], outDir: String): CommitStats = {
    val spark = done.sparkSession
    val batch = newBatchId()
    val dataStaging = s"${dataPath(outDir)}/.staging_$batch"
    val manStaging = s"${manifestPath(outDir)}/.staging_$batch"
    val format = TableIO.format(spark)
    val stats = writeObserved(done.toDF(), format, dataStaging)()
    val fs = fsOf(spark, outDir)
    if (stats.docs == 0) fs.delete(new Path(dataStaging), true)
    else {
      writeManifest(fs, new Path(manStaging), Some(batch), format,
        visibleFiles(fs, new Path(dataStaging)), stats)
      publish(spark, dataStaging, s"${dataPath(outDir)}/$batch")
      publish(spark, manStaging, s"${manifestPath(outDir)}/$batch")
    }
    stats
  }

  /** Manifest-only commit (marks urls done without writing output data —
    * e.g. work completed by an earlier system): the urls, with n_chars and
    * decode_failures, go to parquet files in the `urls/` directory of the
    * manifest's own staging directory, which its file list names. Same
    * atomic publish; an empty batch publishes nothing. */
  def commit(done: Dataset[ExtractedDoc], outDir: String): Unit = {
    val spark = done.sparkSession
    val batch = newBatchId()
    val manStaging = new Path(s"${manifestPath(outDir)}/.staging_$batch")
    val urls = new Path(manStaging, "urls")
    val stats = writeObserved(done.toDF(), "parquet", urls.toString)(
      _.select("url", "n_chars", "decode_failures"))
    val fs = fsOf(spark, outDir)
    if (stats.docs == 0) fs.delete(manStaging, true)
    else {
      writeManifest(fs, manStaging, None, "parquet",
        visibleFiles(fs, urls).map(f => s"${urls.getName}/$f"), stats)
      publish(spark, manStaging.toString, s"${manifestPath(outDir)}/$batch")
    }
  }

  /** The ONE listing predicate for committed manifest entries: `batch_`
    * directories that hold a [[ManifestFile]]. Staging dirs are
    * dot-prefixed and never listed, and neither is anything else under
    * `_manifest/`. Every consumer ([[manifests]], [[snapshots]]) goes
    * through here. */
  private def manifestStatuses(spark: SparkSession, outDir: String): Seq[FileStatus] = {
    val root = new Path(manifestPath(outDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch_") &&
        fs.exists(new Path(s.getPath, ManifestFile)))
  }

  /** The committed manifests, resolved on the driver from their file
    * lists; no Spark job runs. */
  def manifests(spark: SparkSession, outDir: String): Seq[Manifest] =
    resolve(spark, outDir, manifestStatuses(spark, outDir))

  private def resolve(spark: SparkSession, outDir: String, dirs: Seq[FileStatus]): Seq[Manifest] = {
    val fs = fsOf(spark, outDir)
    dirs.map { st =>
      val dir = st.getPath
      val in = fs.open(new Path(dir, ManifestFile))
      val m = try json.readTree(in) finally in.close()
      val batch = Option(m.get("batch")).map(_.asText)
      val base = batch.fold(dir)(b => new Path(dataPath(outDir), b))
      val files = m.get("files").elements.asScala.map(f => new Path(base, f.asText).toString).toSeq
      Manifest(dir.getName, batch, m.get("format").asText, files, CommitStats(m.get("docs").asLong,
        m.get("chars").asLong, m.get("decode_failures").asLong, m.get("pdf_docs").asLong))
    }
  }

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

  /** Distinct urls of the committed manifests: the `url` column alone,
    * read with its schema given from the files they name. Every manifest's
    * files fill their directory alone (a data batch or a manifest-only
    * commit's `urls/`), so the scan is given those
    * directories: Spark lists more than 32 input paths with a Spark job,
    * which took about 500 ms for the 40 files of 10 batches at `local[4]`
    * on a 4-core machine, against 50 ms for their 10 directories. */
  def doneUrls(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val urlSchema = StructType(Seq(StructField("url", StringType)))
    manifests(spark, outDir).filter(_.files.nonEmpty).groupBy(_.format).toSeq
      .map { case (format, ms) =>
        val dirs = ms.flatMap(_.files.map(f => new Path(f).getParent.toString)).distinct
        spark.read.schema(urlSchema).format(format).load(dirs: _*) }
      .reduceOption(_ union _).map(_.distinct())
  }

  /** Assemble the output table from the given committed batch dirs. Only
    * `batch_` directories a manifest references are read: anything else
    * under `extracted/` (an orphan batch, stray flat files) stays
    * invisible and its urls re-extract. */
  private def assembleTable(spark: SparkSession, outDir: String, batches: Seq[String]): DataFrame =
    if (batches.isEmpty)
      // schema-carrying empty table, so .select("url")/.as[ExtractedDoc]
      // work on a fresh or manifest-only outDir
      spark.emptyDataset(Encoders.product[ExtractedDoc]).toDF()
    else spark.read.format(TableIO.format(spark))
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
    * the manifests, so manifest-only commits contribute nothing),
    * restricted to the manifests published at or before that instant.
    * `readExtractedAsOf(outDir, snapshots.last.commitMs)` equals
    * `readExtracted(outDir)`. */
  def readExtractedAsOf(spark: SparkSession, outDir: String, commitMs: Long): DataFrame = {
    val keep = manifestStatuses(spark, outDir).filter(_.getModificationTime <= commitMs)
    assembleTable(spark, outDir, resolve(spark, outDir, keep).flatMap(_.dataBatch).distinct)
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
    * metadata log cannot keep rewritten lineage alive), and the new
    * manifest lists the compacted files, with totals observed during the
    * rewrite. Manifest-only commits are untouched.
    * Returns the new batch id; None when < 2 data batches exist. */
  def compact(spark: SparkSession, outDir: String,
      targetFileBytes: Long = 128L << 20,
      lockStaleMs: Long = MaintenanceLockStaleMs): Option[String] = {
    val mans = manifests(spark, outDir)
    val dataBatches = mans.flatMap(_.dataBatch).distinct
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
      val format = TableIO.format(spark)
      val source = spark.read.format(format).load(dataDirs: _*)
      // coalesce only shrinks; growing past the read parallelism (small
      // target on big input) needs a real repartition
      val sized =
        if (nFiles < source.rdd.getNumPartitions) source.coalesce(nFiles)
        else if (nFiles > source.rdd.getNumPartitions) source.repartition(nFiles)
        else source
      val stats = writeObserved(sized, format, dataStaging)()
      writeManifest(fs, new Path(manStaging), Some(batch), format,
        visibleFiles(fs, new Path(dataStaging)), stats)
      publish(spark, dataStaging, s"${dataPath(outDir)}/$batch") // step 2
      mans.filter(_.dataBatch.isDefined) // step 3
        .foreach(m => fs.delete(new Path(manifestPath(outDir), m.name), true))
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
      val referenced = manifests(spark, outDir).flatMap(_.dataBatch).toSet
      removeUnder(new Path(dataPath(outDir)),
        name => !(name.startsWith("batch_") && !referenced.contains(name)) &&
          !name.startsWith(".staging_")) ++
        removeUnder(new Path(manifestPath(outDir)),
          name => !name.startsWith(".staging_"))
    }

  /** Run-level metrics rollup: the sum of the committed manifests'
    * recorded totals, as one row (docs_done, total_chars,
    * total_decode_failures). */
  def metrics(spark: SparkSession, outDir: String): DataFrame = {
    val mans = manifests(spark, outDir)
    require(mans.nonEmpty, s"no committed manifests under ${manifestPath(outDir)}")
    val t = mans.map(_.stats).reduce(_ + _)
    import spark.implicits._
    Seq((t.docs, t.chars, t.decodeFailures))
      .toDF("docs_done", "total_chars", "total_decode_failures")
  }
}
