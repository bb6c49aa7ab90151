package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** Resumable runs with ATOMIC commits, modeling Iceberg snapshot semantics
  * on plain filesystem primitives (no Iceberg runtime jar in this sandbox —
  * SURVEY.md §7; a real catalog swap is a `TableIO` config change):
  *
  *  - each commit is a `batch`: data files under `extracted/<batch>/` and
  *    a manifest directory `_manifest/<batch>/` holding one small JSON file,
  *    [[ManifestFile]]. Like an Iceberg manifest, it is a file list: the
  *    names of the batch's data files, their format, and the commit's
  *    [[CommitStats]] totals;
  *  - the data files are written by the tasks of the commit's one Spark
  *    job ([[write]]), Iceberg's per-task data-file model: each task writes
  *    its partition through the format's own `OutputWriter` to one file
  *    under a hidden name unique to its attempt, counts its rows as it
  *    writes them, and returns the file and the counts to the driver. The
  *    driver renames only the returned files, those of the attempts that
  *    won, to visible names, and writes the manifest with the Hadoop FS API
  *    from those names and the summed counts. A failed or zombie attempt's
  *    file stays hidden, and no directory listing decides what is
  *    committed;
  *  - data and manifest are first written to dot-prefixed staging
  *    directories (hidden from every Spark/Hadoop reader), then published
  *    with two renames, DATA FIRST, MANIFEST LAST — the manifest rename is
  *    the single atomic commit point;
  *  - readers go through [[manifests]], which lists committed manifests
  *    and reads their files on the driver: [[readExtracted]] reads ONLY the
  *    data batches they reference and [[resume]] reads just the `url`
  *    column of the files they name. A crash between the two renames
  *    leaves an orphan data directory that no reader sees and whose urls
  *    the next run re-extracts into a fresh batch — exactly-once output,
  *    not at-least-once;
  *  - resume is a left-anti join of the input against those urls, so a
  *    re-submitted 10^12-row job re-reads only undone work;
  *  - data files are zstd parquet, whether a commit ([[commitWithData]],
  *    [[commitRows]]) or [[compact]] writes them. Batches committed as
  *    snappy parquet before zstd stay readable and resumable, since every
  *    reader takes the codec from the file footer, and the next
  *    [[compact]] rewrites them as zstd.
  *
  * The north_rule's "checkpoints per-partition with lineage + metrics" maps
  * to the file list (which data file holds each url is the `_metadata`
  * of the files it names) and the recorded totals, which roll up run
  * metrics without re-reading the output table. Resolving the manifests
  * runs no Spark job. A `batch_` directory without a file list (the
  * parquet-row manifests written before it) is not a committed manifest:
  * it marks nothing done and its data batch stays invisible, so the next
  * run re-extracts those urls once.
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

  /** Totals of one commit, counted by its write tasks. */
  final case class CommitStats(docs: Long, chars: Long, decodeFailures: Long, pdfDocs: Long) {
    def +(o: CommitStats): CommitStats =
      CommitStats(docs + o.docs, chars + o.chars, decodeFailures + o.decodeFailures, pdfDocs + o.pdfDocs)
  }

  /** One committed manifest. `dataBatch` is the `extracted/` directory it
    * publishes; `files` are the full paths of the `format` files in it;
    * `stats` are the recorded totals. */
  final case class Manifest(name: String, dataBatch: String, format: String,
      files: Seq[String], stats: CommitStats)

  /** What a commit writes: each write task reads its partition of the
    * plan `input` and turns it into rows of `schema` with `perTask`. */
  final case class Rows(input: QueryExecution, schema: StructType,
      perTask: Iterator[InternalRow] => Iterator[InternalRow] = identity)

  private def rowsOf(df: Dataset[_]): Rows = Rows(df.queryExecution, df.schema)

  /** One task's data file: the hidden, attempt-unique name it was written
    * under, the name the driver publishes it as, and its counts. */
  private final case class TaskFile(hidden: String, visible: String, stats: CommitStats)

  /** Writes `rows` (`ExtractedDoc` columns) to `dir` in `format`, in one
    * job under one SQL execution. Each non-empty partition's task writes
    * one file through the format's own `OutputWriter` and counts its docs,
    * chars, decode failures and PDF docs. A task writes under a hidden
    * name unique to its attempt; the driver renames the files of the
    * attempts that won, so a failed or zombie attempt's file is never
    * visible. Returns the visible names, sorted, and the summed counts. The files are zstd at its
    * default level 3: rewriting a 10k-page output in one task, levels 6,
    * 9 and 19 stored 8%, 10% and 25% fewer bytes but took 1.3, 1.5 and
    * 22 times as long to write. */
  private def write(rows: Rows, format: String, dir: String): (Seq[String], CommitStats) = {
    val session = rows.input.sparkSession
    val fileFormat = DataSource.lookupDataSource(format, session.sessionState.conf)
      .getConstructor().newInstance() match {
        case v2: FileDataSourceV2 => v2.fallbackFileFormat.getConstructor().newInstance()
        case v1: FileFormat => v1
      }
    val schema = rows.schema
    val Seq(kind, nChars, decodeFailures) =
      Seq("kind", "n_chars", "decode_failures").map(schema.fieldIndex)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = fileFormat.prepareWrite(session, job, Map("compression" -> "zstd"), schema)
    val conf = session.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val perTask = rows.perTask
    val jobId = java.util.UUID.randomUUID.toString
    val written = SQLExecution.withNewExecutionId(rows.input, Some(s"commit $dir")) {
      session.sparkContext.runJob(rows.input.toRdd, (ctx: TaskContext, in: Iterator[InternalRow]) => {
        val it = perTask(in)
        if (!it.hasNext) None
        else {
          val attempt = new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID(
            jobId, ctx.stageId, TaskType.MAP, ctx.partitionId, ctx.attemptNumber))
          val visible = f"part-${ctx.partitionId}%05d-$jobId-c000" + factory.getFileExtension(attempt)
          val hidden = s".${ctx.taskAttemptId}-$visible"
          val path = new Path(dir, hidden)
          val out = factory.newInstance(path.toString, schema, attempt)
          val pdf = UTF8String.fromString("pdf")
          var docs, chars, failures, pdfs = 0L
          try {
            while (it.hasNext) {
              val r = it.next()
              docs += 1
              if (!r.isNullAt(nChars)) chars += r.getInt(nChars)
              if (!r.isNullAt(decodeFailures)) failures += r.getInt(decodeFailures)
              if (pdf == r.getUTF8String(kind)) pdfs += 1
              out.write(r)
            }
            out.close()
          } catch {
            case e: Throwable =>
              try out.close() catch { case _: Throwable => () }
              path.getFileSystem(conf.value.value).delete(path, false)
              throw e
          }
          Some(TaskFile(hidden, visible, CommitStats(docs, chars, failures, pdfs)))
        }
      }).toSeq.flatten
    }
    val fs = fsOf(session, dir)
    written.foreach(f => if (!fs.rename(new Path(dir, f.hidden), new Path(dir, f.visible)))
      throw new IllegalStateException(s"task file rename failed: ${f.hidden} in $dir"))
    (written.map(_.visible).sorted, written.map(_.stats).fold(CommitStats(0, 0, 0, 0))(_ + _))
  }

  /** Writes the file list into the staging manifest directory `dir`.
    * `files` are paths relative to `extracted/<batch>/`. */
  private def writeManifest(fs: FileSystem, dir: Path, batch: String, format: String,
      files: Seq[String], stats: CommitStats): Unit = {
    val m = json.createObjectNode()
    m.put("batch", batch)
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
    if (!fs.rename(new Path(staging), dst))
      throw new IllegalStateException(s"commit rename failed: $staging -> $target")
  }

  /** Atomically commit a batch of extracted docs in one pass: the data is
    * written once to staging, with no cache, by its tasks, which return
    * their files and counts (see [[write]]). An empty batch deletes its
    * staging dir and publishes nothing. Otherwise the driver lists the
    * returned files in the manifest with the summed counts — so the
    * manifest names exactly the files the winning attempts wrote, even for
    * a nondeterministic upstream — and no second job runs. Then the data
    * dir is renamed into place and the manifest after it — the commit
    * point. Returns the counts. */
  def commitWithData(done: Dataset[ExtractedDoc], outDir: String): CommitStats =
    commitRows(rowsOf(done), outDir)

  /** [[commitWithData]] for rows that reach the writer without an encoder,
    * as [[ExtractPipeline.extractRows]] builds them. */
  def commitRows(rows: Rows, outDir: String): CommitStats = {
    val spark = rows.input.sparkSession
    val batch = newBatchId()
    val dataStaging = s"${dataPath(outDir)}/.staging_$batch"
    val manStaging = s"${manifestPath(outDir)}/.staging_$batch"
    val format = TableIO.format(spark)
    val (files, stats) = write(rows, format, dataStaging)
    val fs = fsOf(spark, outDir)
    if (stats.docs == 0) fs.delete(new Path(dataStaging), true)
    else {
      writeManifest(fs, new Path(manStaging), batch, format, files, stats)
      publish(spark, dataStaging, s"${dataPath(outDir)}/$batch")
      publish(spark, manStaging, s"${manifestPath(outDir)}/$batch")
    }
    stats
  }

  /** The committed manifests: the `batch_` directories under `_manifest/`
    * that hold a [[ManifestFile]], resolved on the driver from their file
    * lists; no Spark job runs. Staging dirs are dot-prefixed and never
    * listed, and neither is anything else under `_manifest/`. */
  def manifests(spark: SparkSession, outDir: String): Seq[Manifest] = {
    val root = new Path(manifestPath(outDir))
    val fs = fsOf(spark, outDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_") &&
        fs.exists(new Path(st.getPath, ManifestFile))).map { st =>
      val dir = st.getPath
      val in = fs.open(new Path(dir, ManifestFile))
      val m = try json.readTree(in) finally in.close()
      val batch = Option(m.get("batch")).map(_.asText).getOrElse(throw new IllegalStateException(
        s"manifest $dir has no data batch (manifest-only commits are no longer supported)"))
      val base = new Path(dataPath(outDir), batch)
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

  /** Urls of the committed manifests: the `url` column alone, read with
    * its schema given from the files they name. A url appears once per
    * commit that holds it; [[resume]]'s left-anti join needs no distinct
    * build side, so none is planned (it cost a hash aggregate and a
    * 200-partition shuffle under the broadcast). Every manifest's
    * files fill its data batch alone, so the scan is given those
    * directories: Spark lists more than 32 input paths with a Spark job,
    * which took about 500 ms for the 40 files of 10 batches at `local[4]`
    * on a 4-core machine, against 50 ms for their 10 directories. */
  def doneUrls(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val urlSchema = StructType(Seq(StructField("url", StringType)))
    manifests(spark, outDir).filter(_.files.nonEmpty).groupBy(_.format).toSeq
      .map { case (format, ms) =>
        val dirs = ms.map(m => new Path(dataPath(outDir), m.dataBatch).toString)
        spark.read.schema(urlSchema).format(format).load(dirs: _*) }
      .reduceOption(_ union _)
  }

  /** The committed output table: the data batches a committed manifest
    * references. Anything else under `extracted/` (an orphan batch from a
    * crashed run, stray flat files) stays invisible and its urls
    * re-extract. */
  def readExtracted(spark: SparkSession, outDir: String): DataFrame = {
    val batches = manifests(spark, outDir).map(_.dataBatch)
    if (batches.isEmpty)
      // schema-carrying empty table, so .select("url")/.as[ExtractedDoc]
      // work on a fresh outDir
      spark.emptyDataset(Encoders.product[ExtractedDoc]).toDF()
    else spark.read.format(TableIO.format(spark))
      .load(batches.map(b => s"${dataPath(outDir)}/$b"): _*)
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
    * One documented deviation from Iceberg's rewrite: the new manifest
    * lists the compacted files, with totals counted during the rewrite.
    * Returns the new batch id; None when < 2 data batches exist. */
  def compact(spark: SparkSession, outDir: String,
      targetFileBytes: Long = 128L << 20,
      lockStaleMs: Long = MaintenanceLockStaleMs): Option[String] = {
    val mans = manifests(spark, outDir)
    val dataBatches = mans.map(_.dataBatch)
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
      val (files, stats) = write(rowsOf(sized), format, dataStaging)
      writeManifest(fs, new Path(manStaging), batch, format, files, stats)
      publish(spark, dataStaging, s"${dataPath(outDir)}/$batch") // step 2
      mans.foreach(m => fs.delete(new Path(manifestPath(outDir), m.name), true)) // step 3
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
      val referenced = manifests(spark, outDir).map(_.dataBatch).toSet
      removeUnder(new Path(dataPath(outDir)),
        name => !(name.startsWith("batch_") && !referenced.contains(name)) &&
          !name.startsWith(".staging_")) ++
        removeUnder(new Path(manifestPath(outDir)),
          name => !name.startsWith(".staging_"))
    }
}
