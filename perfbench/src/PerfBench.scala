package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.pipeline.{Checkpoint, Corpus, ExtractPipeline, PageRow}
import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop, one-client benchmark of the real `graft.pipeline.Main`
  * submit path: one JVM, one submit at a time, each submit a full
  * `Main.main` call that starts its own SparkContext (local[nproc]), runs
  * scan → delta → resume → salt → extract → metrics → commit, and stops the
  * context, exactly as under `spark-submit` minus the JVM launch.
  *
  * {{{
  * PerfBench --workload W --seed N --seconds S --trace 0|1 --work DIR --result FILE --cores C
  * }}}
  *
  * Set-up (tables from the seed, the expected output, the seeded recrawl
  * output, page-cache pre-read) is repeated three times and its median
  * reported. Then the first submit of the fresh JVM is timed cold; a
  * re-submit into its complete output (which must commit nothing) and one
  * discarded submit warm the JVM up. Trace 0 times submits for `S` seconds,
  * interleaving local[nproc] with the local[1] submits of the scaling ratio
  * and with a calibration loop that reads the machine's speed;
  * trace 1 alternates traced and untraced submits, attributes the traced
  * ones to pipeline steps through [[LayerListener]], then times the parse
  * layers in-process with [[ParseProbe]]. Every timed submit's output is
  * checked afterwards against the generator's expected text.
  */
object PerfBench {

  final case class Prepared(input: String, prev: Option[String], expected: String,
      seedOut: Option[String], inputBytes: Long, workBytes: Long, workDocs: Long,
      statuses: Map[String, Long], manifestFiles: Int)

  final case class Submit(master: String, wallS: Double, startMs: Long, endMs: Long,
      docs: Long, statusLine: String, outDir: String, outBytes: Long, trace: Option[SubmitTrace])

  private[perfbench] val Mb = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val spec = Workloads.spec(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    Seq("spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.hadoop.hadoop.tmp.dir" -> s"$work/tmp",
      "spark.sql.warehouse.dir" -> s"$work/warehouse").foreach { case (k, v) => System.setProperty(k, v) }

    // ---- set-up, three times; the last preparation is the one measured
    val setupT0 = System.nanoTime()
    val reps = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      val p = prepare(spec, seed, s"$work/data$r", cores)
      ((System.nanoTime() - t0) / 1e9, p)
    }
    val p = reps.last._2
    reps.init.foreach(r => deleteTree(Paths.get(r._2.input).getParent))
    val main = s"local[$cores]"
    val first = submit(main, p, s"$work/out/first", traced = false)
    // warm-up: a re-submit into the complete first output, which must commit
    // nothing, then one ordinary submit
    val again = runMain(main, p, first.outDir, traced = false)
    val warm = submit(main, p, s"$work/out/warm", traced = false)
    deleteTree(Paths.get(warm.outDir))
    val setupS = median(reps.map(_._1)) + first.wallS + again.wallS + warm.wallS
    log(f"setup reps ${reps.map(_._1).map(x => f"$x%.2f").mkString(" ")} first ${first.wallS}%.2f " +
      f"re-submit ${again.wallS}%.2f warm ${warm.wallS}%.2f (wall ${(System.nanoTime() - setupT0) / 1e9}%.1f s)")

    val result =
      if (!traced) measure(spec, seed, p, cores, seconds, work, setupS, first, again.docs)
      else traceRun(spec, seed, p, cores, seconds, work, first, again.docs)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(opt("result")), json.writeValueAsBytes(result))
  }

  // ------------------------------------------------------------------ set-up

  /** The session of the untimed set-up and checks. Only it sizes its
    * shuffles for the cores; the submits keep `Main`'s own configuration. */
  private def harness(cores: Int): SparkSession = {
    System.setProperty("spark.master", s"local[$cores]")
    System.clearProperty("spark.extraListeners")
    SparkSession.builder().appName("perfbench-harness")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString).getOrCreate()
  }

  private def prepare(s: Workloads.Spec, seed: Long, dir: String, cores: Int): Prepared = {
    val t0 = System.nanoTime()
    val spark = harness(cores)
    val tSession = System.nanoTime()
    try {
      val sc = spark.sparkContext
      val (inBytes, workBytes, workDocs) = (sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
      val parts = 8
      val input = s"$dir/pages"
      spark.range(0, Workloads.nextIds(s), 1, parts)
        .mapPartitions(_.flatMap { i =>
          val r = Workloads.nextRow(s, seed, i)
          r.foreach { row =>
            inBytes.add(row.html.length)
            if (Workloads.inWork(s, seed, i) && !Workloads.preCommitted(s, seed, i)) {
              workBytes.add(row.html.length)
              workDocs.add(1)
            }
          }
          r
        })(Encoders.product[PageRow])
        .write.parquet(input)
      val tPages = System.nanoTime()
      val prev = if (!s.recrawl) None else {
        val path = s"$dir/prev"
        spark.range(0, s.docs, 1, parts)
          .mapPartitions(_.flatMap(i => Workloads.prevRow(s, seed, i)))(Encoders.product[PageRow])
          .write.parquet(path)
        Some(path)
      }
      val pages = spark.read.parquet(input).as[PageRow](Encoders.product[PageRow])
      val expected = s"$dir/expected"
      pages.select("url", "text").as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .mapPartitions(_.flatMap { case (url, text) =>
          val id = url.stripPrefix(Corpus.UrlPrefix).toLong
          if (Workloads.inWork(s, seed, id)) Some((url, Workloads.expected(id, text))) else None
        })(Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .toDF("url", "text").write.parquet(expected)
      // a recrawl resubmitted after a crash: about half of its work list is
      // already committed, in two batches
      val seedOut = if (!s.recrawl) None else {
        val out = s"$dir/seed_out"
        val isPre = udf((url: String) => Workloads.preCommitted(s, seed, url.stripPrefix(Corpus.UrlPrefix).toLong))
        val pre = pages.where(isPre(col("url")))
        Seq(0, 1).foreach { half =>
          val batch = ExtractPipeline.run(pre.where(xxhash64(col("url")) % 2 === half || xxhash64(col("url")) % 2 === -half))
          Checkpoint.commitWithData(batch, out)
        }
        Some(out)
      }
      val statuses =
        if (!s.recrawl) Map.empty[String, Long]
        else (0L until Workloads.nextIds(s)).groupBy(i => Workloads.status(s, seed, i).toString.toLowerCase)
          .map { case (k, v) => k -> v.size.toLong }
      val tSeed = System.nanoTime()
      preRead(new File(dir))
      log(f"prepare: session ${(tSession - t0) / 1e9}%.2f pages ${(tPages - tSession) / 1e9}%.2f " +
        f"rest ${(tSeed - tPages) / 1e9}%.2f pre-read ${(System.nanoTime() - tSeed) / 1e9}%.2f s")
      Prepared(input, prev, expected, seedOut, inBytes.sum, workBytes.sum, workDocs.sum, statuses,
        seedOut.map(o => batchDirs(s"$o/_manifest").size).getOrElse(0))
    } finally spark.stop()
  }

  /** Pulls every file under `dir` through the OS page cache. */
  private def preRead(dir: File): Unit = {
    val buf = new Array[Byte](1 << 20)
    Files.walk(dir.toPath).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val in = Files.newInputStream(f)
      try while (in.read(buf) >= 0) {} finally in.close()
    }
  }

  /** The first 1,500 rows the workload extracts, built in the driver, with
    * their document ids. */
  private def sample(spec: Workloads.Spec, seed: Long): (IndexedSeq[Long], IndexedSeq[PageRow]) = {
    val rows = (0L until Workloads.nextIds(spec)).iterator
      .filter(i => Workloads.inWork(spec, seed, i))
      .flatMap(i => Workloads.nextRow(spec, seed, i).map(i -> _))
      .take(1500).toIndexedSeq
    (rows.map(_._1), rows.map(_._2))
  }

  // ------------------------------------------------------------------ submits

  private def batchDirs(root: String): Seq[Path] = {
    val d = new File(root)
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq.filter(f => f.isDirectory && f.getName.startsWith("batch_")).map(_.toPath)
  }

  private def visibleBytes(p: Path): Long =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private val DocsRe = "\"docs\":(\\d+)".r

  /** One `Main` submit into a cleaned (recrawl: freshly restored) output dir. */
  private def submit(master: String, p: Prepared, outDir: String, traced: Boolean): Submit = {
    val out = Paths.get(outDir)
    deleteTree(out)
    p.seedOut.foreach(s => copyTree(Paths.get(s), out))
    runMain(master, p, outDir, traced)
  }

  /** Calls `Main.main` on the prepared tables into `outDir` as it stands. */
  private def runMain(master: String, p: Prepared, outDir: String, traced: Boolean): Submit = {
    val before = (batchDirs(s"$outDir/extracted") ++ batchDirs(s"$outDir/_manifest")).toSet
    System.setProperty("spark.master", master)
    val t = if (traced) Some(new SubmitTrace) else None
    t match {
      case Some(tr) =>
        LayerTrace.current = tr
        System.setProperty("spark.extraListeners", classOf[LayerListener].getName)
      case None => System.clearProperty("spark.extraListeners")
    }
    val args = Seq(p.input, outDir) ++ p.prev.toSeq.flatMap(prev => Seq("--delta", prev))
    val buf = new ByteArrayOutputStream()
    // untimed: every submit starts from a collected heap, so the full
    // collection of an earlier submit's garbage does not land in a random one
    System.gc()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      graft.pipeline.Main.main(args.toArray)
    }
    val wall = (System.nanoTime() - t0) / 1e9

    val ms1 = System.currentTimeMillis()
    System.clearProperty("spark.extraListeners")
    val lines = buf.toString("UTF-8").split("\n").toSeq
    val docs = lines.reverseIterator.flatMap(l => DocsRe.findFirstMatchIn(l)).nextOption()
      .map(_.group(1).toLong).getOrElse(-1L)
    val added = (batchDirs(s"$outDir/extracted") ++ batchDirs(s"$outDir/_manifest")).filterNot(before)
    Submit(master, wall, ms0, ms1, docs, lines.find(_.contains("\"statuses\"")).getOrElse(""),
      outDir, added.map(visibleBytes).sum, t)
  }

  // ------------------------------------------------------------------ correctness

  final case class Check(wrong: Long, failedRows: Long, rows: Long)

  /** Reads every output through `Checkpoint.readExtracted` and compares it
    * with the expected table: wrong = mismatched text + missing urls +
    * duplicated urls + unexpected urls. */
  private def check(p: Prepared, dirs: Seq[String], cores: Int): Seq[Check] = {
    val spark = harness(cores)
    try {
      val got = dirs.zipWithIndex.map { case (d, i) =>
        Checkpoint.readExtracted(spark, d).select(lit(i).as("run"), col("url"), col("text"), col("error"))
      }.reduce(_ unionByName _)
        .groupBy("run", "url")
        .agg(count(lit(1)).as("n"), first("text").as("got"),
          max(when(length(col("error")) > 0, 1L).otherwise(0L)).as("err"))
      val want = spark.range(dirs.size).select(col("id").cast("int").as("run"))
        .crossJoin(spark.read.parquet(p.expected).select(col("url"), col("text").as("want")))
      val byRun = want.join(got, Seq("run", "url"), "full_outer").groupBy("run").agg(
        sum(when(col("n").isNull, 1L).otherwise(0L)).as("missing"),
        sum(when(col("want").isNull, 1L).otherwise(0L)).as("extra"),
        sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("dup"),
        sum(when(col("n").isNotNull && col("want").isNotNull && col("got") =!= col("want"), 1L)
          .otherwise(0L)).as("mismatch"),
        sum(coalesce(col("err"), lit(0L))).as("failed"),
        sum(coalesce(col("n"), lit(0L))).as("rows"))
        .collect().map(r => r.getInt(0) -> r).toMap
      dirs.indices.map { i =>
        byRun.get(i).map(r => Check(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4), r.getLong(5), r.getLong(6)))
          .getOrElse(Check(0, 0, 0))
      }
    } finally spark.stop()
  }

  /** Checks the first output and every timed one; a recrawl's printed
    * delta statuses must match the generator's. Returns the timed
    * submits' checks, the wrong docs of all, and the status verdict. */
  private def verify(p: Prepared, first: Submit, subs: Seq[Submit], cores: Int): (Seq[Check], Long, Boolean) = {
    val checks = check(p, (first +: subs).map(_.outDir), cores)
    val statusesOk = p.statuses.isEmpty || (first +: subs).forall(s =>
      p.statuses.forall { case (k, v) => s.statusLine.contains(s""""$k":$v""") })
    (checks.tail, checks.map(_.wrong).sum, statusesOk)
  }

  // ------------------------------------------------------------------ phases

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile the sample count supports with ten samples beyond
    * it (never below the median). */
  private def highPercentile(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.floor(100.0 * (xs.size - 10) / xs.size).toInt)
    val s = xs.sorted
    (p, s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))))
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  @volatile private var calSink = 0L

  /** Seconds of a fixed piece of work on `threads` threads that runs no
    * program code: each thread fills a fresh 2 MB array of longs and sorts
    * it, twelve times. Timed between submits, it reads how fast the machine
    * is at that moment, so a submit's wall divided by it cancels drift in
    * the machine's speed. */
  private def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = Seq.tabulate(threads)(t => new Thread(() => {
      var x = t + 1L
      var k = 0
      while (k < 12) {
        val a = new Array[Long](1 << 18)
        var i = 0
        while (i < a.length) {
          x = x * 6364136223846793005L + 1442695040888963407L
          a(i) = x
          i += 1
        }
        java.util.Arrays.sort(a)
        calSink += a(a.length / 2)
        k += 1
      }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Trace 0: the end-to-end metrics. */
  private def measure(spec: Workloads.Spec, seed: Long, p: Prepared, cores: Int, seconds: Double,
      work: String, setupS: Double, first: Submit, again: Long): Map[String, Any] = {
    val main = s"local[$cores]"
    val masters = Seq(main, "local[4]", "local[1]").distinct
    val spent = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val subs = mutable.ArrayBuffer.empty[Submit]
    // scaling submits get a fixed share of the measuring time, interleaved
    // with the main ones
    val share = Map(main -> 0.6) ++ masters.filter(_ != main).map(_ -> 0.4 / (masters.size - 1))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def enough(m: String) = subs.count(_.master == m) >= (if (m == main) 3 else 2)
    calibrate(cores) // its own warm-up
    val cals = mutable.ArrayBuffer(calibrate(cores))
    while (System.nanoTime() < deadline || !masters.forall(enough)) {
      val total = spent.values.sum.max(1e-9)
      val m = masters.minBy(m => (spent(m) / total) / share(m))
      val s = submit(m, p, s"$work/out/t${subs.size}", traced = false)
      spent(m) += s.wallS
      subs += s
      cals += calibrate(cores)
    }
    val (checks, wrong, statusesOk) = verify(p, first, subs.toSeq, cores)
    val walls = (m: String) => subs.filter(_.master == m).map(_.wallS).toSeq
    val jobWall = median(walls(main))
    // medians of both sides: one calibration is noisier than the drift it reads
    val perCal = jobWall / median(cals.toSeq)
    val docs = subs.head.docs
    // paired rounds, as in graft.Bench: each local[1] submit against the
    // local[4] submit just before it, so drift hits both sides of a ratio
    val eff = median(subs.indices.filter(subs(_).master == "local[1]").flatMap { i =>
      subs.take(i).findLast(_.master == "local[4]").map(l4 => subs(i).wallS / (4 * l4.wallS))
    }.toSeq)
    val failedRows = checks.map(_.failedRows).sum
    val rows = checks.map(_.rows).sum.max(1)
    val (pHi, wallHi) = highPercentile(walls(main))
    val badSubmits = subs.indices.count(i => checks(i).wrong > 0 || subs(i).docs != docs)
    log(f"walls ${subs.map(s => s"${s.master}=${"%.3f".format(s.wallS)}").mkString(" ")} " +
      f"calibrations ${cals.map(c => "%.3f".format(c)).mkString(" ")}")
    Map(
      "correct" -> (wrong == 0 && again == 0 && statusesOk && docs == p.workDocs),
      "attempted" -> subs.size,
      "failed" -> badSubmits,
      "metrics" -> Map(
        "job_wall_s" -> jobWall,
        "job_wall_per_cal" -> perCal,
        "docs_per_s" -> docs / jobWall,
        "mb_per_s" -> p.inputBytes / Mb / jobWall,
        "setup_s" -> setupS,
        "scaling_eff_1to4" -> eff,
        "out_bytes_per_in_byte" -> median(subs.map(_.outBytes.toDouble).toSeq) / p.workBytes),
      "detail" -> Map(
        "workload" -> spec.name, "seed" -> seed, "cores" -> cores, "first_submit_s" -> first.wallS,
        "samples" -> subs.groupBy(_.master).map { case (k, v) => k -> v.size },
        s"job_wall_s_p$pHi" -> wallHi,
        "walls" -> subs.map(s => Seq(s.master, s.wallS)),
        "calibration_s" -> cals.toSeq, "calibration_s_p50" -> median(cals.toSeq),
        "docs_per_submit" -> docs, "expected_docs_per_submit" -> p.workDocs,
        "input_mb" -> p.inputBytes / Mb,
        "wrong_docs" -> wrong, "failed_docs_ratio" -> failedRows.toDouble / rows,
        "resubmit_docs" -> again, "delta_statuses_ok" -> statusesOk))
  }

  /** Trace 1: the per-layer metrics. */
  private def traceRun(spec: Workloads.Spec, seed: Long, p: Prepared, cores: Int, seconds: Double,
      work: String, first: Submit, again: Long): Map[String, Any] = {
    val main = s"local[$cores]"
    val subs = mutable.ArrayBuffer.empty[Submit]
    val deadline = System.nanoTime() + (0.65 * seconds * 1e9).toLong
    while (System.nanoTime() < deadline || subs.count(_.trace.isDefined) < 3)
      subs += submit(main, p, s"$work/out/t${subs.size}", traced = subs.size % 2 == 0)
    val (checks, wrong, statusesOk) = verify(p, first, subs.toSeq, cores)
    val traced = subs.filter(_.trace.isDefined).zipWithIndex.map { case (s, i) =>
      LayerTrace.breakdown(s.trace.get, i, s.startMs, s.endMs)
    }.toSeq
    val tracedWall = median(subs.filter(_.trace.isDefined).map(_.wallS).toSeq)
    val untracedWall = median(subs.filter(_.trace.isEmpty).map(_.wallS).toSeq)

    // parse layers, in-process, over a sample of the rows this workload extracts
    val (ids, rows) = sample(spec, seed)
    val probe = ParseProbe.run(rows, ids, cores, 0.3 * seconds)

    def med(f: LayerTrace.Breakdown => Double): Double = median(traced.map(f))
    val stepS = (k: String) => med(_.stepMs(k) / 1e3)
    val taskP50 = (b: LayerTrace.Breakdown) => median(b.extractTaskMs.map(_.toDouble))
    val docs = subs.head.docs
    val m = Map(
      "job_wall_s" -> untracedWall,
      "docs_per_s" -> docs / untracedWall,
      "mb_per_s" -> p.inputBytes / Mb / untracedWall,
      "pipeline.scan_salt.s" -> stepS("scan_salt"),
      "pipeline.scan_salt.cpu_s" -> med(_.cpuS.getOrElse("scan_salt", 0.0)),
      "pipeline.input_mb" -> med(_.inputMb.values.sum),
      "pipeline.shuffle_write_mb" -> med(_.shuffleWriteMb.getOrElse("scan_salt", 0.0)),
      "pipeline.extract.s" -> stepS("extract"),
      "pipeline.extract.cpu_s" -> med(_.cpuS.getOrElse("extract", 0.0)),
      "pipeline.extract.gc_s" -> med(_.gcS.getOrElse("extract", 0.0)),
      "pipeline.extract.task_ms.p50" -> med(taskP50),
      "pipeline.extract.task_ms.max" -> med(b => b.extractTaskMs.maxOption.getOrElse(0L).toDouble),
      "pipeline.extract.task_skew" -> med(b => if (taskP50(b) > 0) b.extractTaskMs.max / taskP50(b) else 0.0),
      "pipeline.metrics_job.s" -> stepS("metrics_job"),
      "pipeline.Checkpoint.data_write.s" -> stepS("Checkpoint.data_write"),
      "pipeline.Checkpoint.manifest_write.s" -> stepS("Checkpoint.manifest_write"),
      "pipeline.output_mb" -> med(_.outputMb.getOrElse("Checkpoint.data_write", 0.0)),
      "pipeline.manifest_mb" -> med(_.outputMb.getOrElse("Checkpoint.manifest_write", 0.0)),
      "pipeline.cache_mb" -> med(_.cacheMb),
      "pipeline.spill_mb" -> med(_.spillMb),
      "pipeline.peak_storage_mb" -> med(_.peakStorageMb),
      "pipeline.Checkpoint.resume.s" -> stepS("Checkpoint.resume"),
      "pipeline.manifest_files" -> p.manifestFiles.toDouble,
      "pipeline.Recrawl.delta.s" -> stepS("Recrawl.delta"),
      "pipeline.unmapped.s" -> stepS("unmapped"),
      "pipeline.driver.s" -> med(_.driverMs / 1e3),
      "pipeline.jobs" -> med(_.jobs.toDouble),
      "pipeline.stages" -> med(_.stages.toDouble),
      "pipeline.tasks" -> med(_.tasks.toDouble),
      "pipeline.offcpu_ratio" -> med(_.offCpuRatio),
      "pipeline.first_submit_s" -> first.wallS,
      "parse.share_of_wall" -> p.workDocs / probe("parse.docs_per_s_nproc") / untracedWall,
      "trace.overhead_ratio" -> (tracedWall / untracedWall - 1),
      "trace.parts_over_wall" -> med(_.selfOverWall),
      "wrong_docs" -> wrong.toDouble,
      "failed_docs_ratio" -> checks.map(_.failedRows).sum.toDouble / checks.map(_.rows).sum.max(1)) ++ probe
    Map(
      "correct" -> (wrong == 0 && again == 0 && statusesOk && docs == p.workDocs),
      "attempted" -> subs.size,
      "failed" -> subs.indices.count(i => checks(i).wrong > 0 || subs(i).docs != docs),
      "metrics" -> m,
      "detail" -> Map(
        "workload" -> spec.name, "seed" -> seed, "cores" -> cores,
        "traced_submits" -> traced.size, "untraced_submits" -> (subs.size - traced.size),
        "traced_wall_s" -> tracedWall, "untraced_wall_s" -> untracedWall,
        "resubmit_docs" -> again, "delta_statuses_ok" -> statusesOk,
        "stages_of_first_traced_submit" -> traced.head.stageRows),
      "spans" -> traced.flatMap(_.spans).map(s => Seq(s.name, s.start, s.end, s.parent, s.run)))
  }
}
