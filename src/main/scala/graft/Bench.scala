package graft

import graft.html.Boilerplate
import graft.pdf.{PdfExtract, WorkBuffers}
import graft.pipeline.{Checkpoint, Corpus, ExtractPipeline, PageRow, TableIO}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main. Prints ONE JSON line with per-query seconds plus
  * extraction throughput and the two-parallelism scaling evidence the
  * north_rule asks for (N vs 4N executors ≥ 0.8 efficiency; in this
  * single-box sandbox: local[8] vs local[32] per the round brief).
  *
  * Three scaling numbers are reported, because on one box they measure
  * different things:
  *  - `scaling.efficiency`      — the headline `extract_pipeline` job (scan +
  *    full extraction + write, the submit path). On shared hardware this
  *    is bounded by the single memory bus all 32 threads contend for; on
  *    a real N→4N *executor* scale-out each node brings its own memory
  *    system, so per-node profiles transfer.
  *  - `scaling.parse_efficiency` — the pure parse stack (no Spark) at the
  *    same two thread counts: the per-core compute that dominates at
  *    cluster scale.
  *  - `scaling.cpu_efficiency`  — a pure-ALU LCG loop: the hardware ceiling
  *    (turbo clocks drop as cores activate; ~0.83 on this VM).
  * Measurement discipline (round 3): page-cache pre-read before every tier,
  * PAIRED lo/hi rounds each yielding one efficiency sample, rejection of
  * rounds whose scan floors disagree >2x, median-of-rounds reporting with
  * all samples in the JSON. Protocol + analysis in BASELINE.md.
  *
  * Round 5 extends the same drift defense to the per-query section: all
  * timed queries run INTERLEAVED across 3 full passes (after a discarded
  * warm-up pass), a pass whose round-median deviation from the per-query
  * pool medians exceeds 1.75x is rejected as a degraded VM phase, the
  * reported per-query numbers are medians over accepted passes, and the
  * raw per-pass samples ship in the JSON (`query_rounds`) so a regression
  * is distinguishable from a throttled phase in the artifact itself.
  */
object Bench {

  private[graft] def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // binary-heavy scan: the default 4096-row vectorized batch means
      // ~80 MB reader buffers per task at 20 KB/doc (GBs at real web-doc
      // sizes) — memory churn that costs ~25% at 32 cores. At 100 TB this
      // is a first-order setting.
      .config("spark.sql.parquet.columnarReaderBatchSize", 64)
      // off-heap column vectors: the decompressed binary column lives
      // outside the GC'd heap, cutting young-gen pressure from the scan at
      // high thread counts (the parse stack is allocation-heavy enough
      // without also churning reader buffers through the heap)
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench corpus: sf documents with 8x text (≈20 KB PDFs — closer to real
    * web documents than the tiny sf rows) replicated `repl` times, written
    * once as a 64-file parquet table (the timed job is scan→extract→write,
    * the production shape; an in-memory cache is NOT used — it measured
    * BlockManager behavior instead of the pipeline). */
  private[graft] def corpusDir(spark: SparkSession, sfDir: String, repl: Int, textRep: Int): String = {
    // cache key carries the generator version AND the digest of the
    // generator's compiled classfiles — a corpus cached by an older payload
    // generator must never be reused, even if the version bump was forgotten
    val dir = s"${sys.props("java.io.tmpdir")}/graft_bench_${Integer.toHexString(Seq(Corpus.GeneratorVersion, Corpus.generatorFingerprint, sfDir, repl, textRep).mkString("|").hashCode)}"
    val marker = new java.io.File(s"$dir/_SUCCESS")
    if (!marker.exists()) {
      import spark.implicits._
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang").as[(Long, String, String)]
        .repartition(64)
        .flatMap { case (id, text, lang) =>
          val t = ((text + " ") * textRep).trim
          (0 until repl).iterator.map(r => Corpus.pageRowFor(id + r * 10000000L, t, lang))
        }
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** The headline job, also timed by the scaling tier: the submit path,
    * scan → extract → write, committed to a scratch output that is deleted
    * afterwards. */
  private def runExtract(pages: Dataset[PageRow]): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_bench_out").toFile
    try Checkpoint.commitWithData(ExtractPipeline.run(pages, delimiter = ""), out.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(out)
  }

  /** Pull every corpus file through the OS page cache so neither tier pays
    * cold-read I/O (a cold tier's "scan floor" measures the disk, not the
    * pipeline — the r2 artifact recorded a physically impossible 2.16
    * efficiency from exactly that asymmetry). */
  /** Mean of three back-to-back runs — the ONE timing estimator for bench
    * tiers and scan floors (single ~1 s windows swing ±25% under VM jitter;
    * sharing the estimator keeps the subtracted scan floor comparable to
    * the tier it is subtracted from). */
  private[graft] def meanOf3(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; f; f
    (System.nanoTime() - t0) / 3e9
  }

  private[graft] def preReadCorpus(dir: String): Long = {
    var sum = 0L
    val files = new java.io.File(dir).listFiles()
    if (files != null) files.filter(_.isFile).foreach { f =>
      val in = new java.io.FileInputStream(f)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { sum += n; n = in.read(buf) }
      } finally in.close()
    }
    sum
  }

  /** Pure parse-stack throughput (docs/sec) at `threads`, no Spark. */
  private[graft] def pureParse(payloads: Array[(Boolean, Array[Byte])], threads: Int): Double = {
    val idx = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val ts = Array.fill(threads)(new Thread(() => {
      val buf = new WorkBuffers()
      var sink = 0L
      var i = idx.getAndIncrement()
      while (i < payloads.length) {
        val (isPdf, p) = payloads(i)
        if (isPdf) sink += PdfExtract.extract(p, contentDelimiter = "", buffers = buf, captureFragments = false).text.length
        else sink += Boilerplate.extract(p).text.length
        i = idx.getAndIncrement()
      }
      if (sink == Long.MinValue) print("")
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    payloads.length / ((System.nanoTime() - t0) / 1e9)
  }

  /** Pure-ALU scaling ceiling of the hardware (turbo-clock effect). */
  private[graft] def cpuCeiling(threads: Int): Double = {
    val iters = 4_000_000_000L / threads
    val t0 = System.nanoTime()
    val ts = Array.fill(threads)(new Thread(() => {
      var x = 1L; var j = 0L
      while (j < iters) { x = x * 6364136223846793005L + 1442695040888963407L; j += 1 }
      if (x == 42) print("")
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    4e9 / ((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repl = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPL", "16").toInt
    val textRep = sys.env.getOrElse("SPARK_GRAFT_BENCH_TEXTREP", "8").toInt
    val loCores = math.max(1, cpus / 4)

    // ---- main session at full cores
    val spark = session(cpus)
    val dir = corpusDir(spark, sfDir, repl, textRep)
    val pages = TableIO.readPages(spark, dir)
    val (nDocs, mb) = {
      import spark.implicits._
      val (n, b) = pages.select(count(lit(1)), sum(length(col("html")).cast("long")))
        .as[(Long, Long)].collect().head
      (n, b / 1e6)
    }
    runExtract(pages); runExtract(pages) // parse-stack JIT warm-up

    // ---- per-query protocol (round 5): the same drift defense the scaling
    // section already has. The old shape — each query timed best-of-2/3 in
    // sequence, once — could not distinguish a real regression from a
    // throttled VM phase (BENCH_r04 recorded 2-7x slowdowns on six queries
    // that same-day in-repo runs measured at r3 levels, two of them touching
    // zero changed code). Now ALL queries are interleaved across qRounds
    // full passes; a round whose walls systematically deviate >1.75x from
    // the per-query pool medians (median deviation across queries — one
    // noisy sub-second query must not sink a round) was measured in a
    // degraded phase and is rejected; per-query MEDIANS over accepted
    // rounds are reported and every raw sample ships in the JSON.
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val queryThunks: Seq[(String, () => Unit)] = Seq(
      "extract_pipeline" -> (() => runExtract(pages)),
      "crawl_delta" -> (() => {
        val url = concat(lit(Corpus.UrlPrefix), col("doc_id"))
        val prev = docsDf.select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
        val next = docsDf.where(col("doc_id") % 7 =!= 0).select(url.as("url"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit("x")))
            .otherwise(col("text")).cast("binary")).as("fp"))
        graft.pipeline.Recrawl.delta(prev, next, "url", "fp")
          .groupBy("status").count().collect(); ()
      }))

    val qNames = queryThunks.map(_._1)
    def onePass(): Map[String, Double] =
      queryThunks.map { case (name, f) =>
        val t0 = System.nanoTime(); f(); name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    onePass() // one full DISCARDED warm-up pass (codegen + caches)
    val qRounds = 3
    val qSamples: Seq[Map[String, Double]] = (1 to qRounds).map(_ => onePass())
    // true median: even-sized pools average the two middle samples — with
    // exactly 2 accepted rounds (one rejected, the protocol's design case)
    // the upper-element shortcut would report the SLOWER round for every
    // query while the JSON claims "median over accepted"
    def medianD(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val poolMedian: Map[String, Double] =
      qNames.map(n => n -> medianD(qSamples.map(_(n)))).toMap
    // a round's deviation = MEDIAN over queries of max(t/m, m/t) vs the
    // pool median — systematic (whole-round) drift rejects, a single noisy
    // query does not; falls back to all rounds if <2 survive
    def roundDeviation(r: Map[String, Double]): Double =
      medianD(qNames.map { n =>
        val m = math.max(1e-4, poolMedian(n)); val x = math.max(1e-4, r(n))
        math.max(x / m, m / x)
      })
    val qAccepted = qSamples.map(r => roundDeviation(r) <= 1.75)
    val usedRounds =
      if (qAccepted.count(identity) >= 2) qSamples.zip(qAccepted).filter(_._2).map(_._1)
      else qSamples
    val results = scala.collection.immutable.ListMap(
      qNames.map(n => n -> medianD(usedRounds.map(_(n)))): _*)
    val queryRoundsJson = {
      val samples = qNames.map { n =>
        s""""$n":[${qSamples.map(r => f"${r(n)}%.3f").mkString(",")}]"""
      }.mkString("{", ",", "}")
      s"""{"protocol":"interleaved, ${qRounds} rounds after 1 discarded warm-up pass; median over accepted; reject round-median deviation > 1.75x",""" +
        s""""accepted":[${qAccepted.mkString(",")}],""" +
        s""""round_deviation":[${qSamples.map(r => f"${roundDeviation(r)}%.3f").mkString(",")}],""" +
        s""""samples":$samples}"""
    }
    spark.stop()

    // ---- scaling protocol (round 3 — see BASELINE.md):
    //  1. the corpus is PRE-READ into the OS page cache before every tier,
    //     so no tier pays cold-read I/O;
    //  2. rounds are PAIRED: each round measures lo then hi back-to-back
    //     and contributes ONE efficiency sample computed from its own pair —
    //     pairing cancels the VM's minute-scale drift, which best-of-tiers
    //     across rounds folded straight into the ratio (the r2 artifact
    //     recorded efficiency 2.16 that way);
    //  3. a round whose two scan floors disagree by more than 2x is evidence
    //     of a degraded phase (throttled VM, evicted cache) and is REJECTED
    //     and redone, up to `maxAttempts`;
    //  4. the reported numbers are the MEDIAN round's (by efficiency), and
    //     every per-round sample ships in the JSON so the artifact is
    //     auditable.
    // Each tier's wall time is a mean of 3 back-to-back runs after a warm-up
    // run (single ~1 s windows swing ±25% under VM jitter); the scan floor
    // uses the SAME estimator (meanOf3) so the subtracted compute term is
    // unbiased.
    final case class Round(tLo: Double, tHi: Double, scanLo: Double, scanHi: Double) {
      def eff: Double = (tLo / tHi) / (cpus.toDouble / loCores)
      def computeEff: Double = {
        val cHi = math.max(1e-3, tHi - scanHi)
        val cLo = math.max(1e-3, tLo - scanLo)
        (cLo / cHi) / (cpus.toDouble / loCores)
      }
      def floorsConsistent: Boolean =
        math.max(scanLo, scanHi) / math.max(1e-3, math.min(scanLo, scanHi)) <= 2.0
      // efficiency > 1 is physically impossible for this job (4x the cores
      // cannot be less than 1x as fast per-core on shared hardware) — such a
      // round measured a degraded lo tier (cold JIT/page cache, throttled VM
      // phase), not the pipeline. 1.05 allows measurement noise.
      //   (BENCH_r03 round 0 recorded an accepted eff 1.377 from exactly
      //    this: its t_lo was 2.3 s vs ~0.95 s in every later round.)
      def physicallyPossible: Boolean = eff <= 1.05
    }
    def measureTier(cores: Int): (Double, Double) = {
      preReadCorpus(dir)
      val s = session(cores)
      val p = TableIO.readPages(s, dir)
      runExtract(p) // per-session codegen warm-up (JIT is already hot)
      val t = meanOf3(runExtract(p))
      val scan = meanOf3(s.read.parquet(dir).agg(sum(length(col("html")))).collect())
      s.stop()
      (t, scan)
    }
    val targetRounds = 3
    val maxAttempts = 6
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Round]
    val rejected = scala.collection.mutable.ArrayBuffer.empty[Round]
    // one full DISCARDED warm-up pair before any accepted round: the first
    // lo-tier session of the process pays residual JIT/page-cache warm-up
    // that the rejection predicates can't always see (it degrades both tiers
    // proportionally often enough to pass the floor check)
    measureTier(loCores); measureTier(cpus)
    var attempt = 0
    while (accepted.size < targetRounds && attempt < maxAttempts) {
      attempt += 1
      val (tLo, scanLo) = measureTier(loCores)
      val (tHi, scanHi) = measureTier(cpus)
      val r = Round(tLo, tHi, scanLo, scanHi)
      if (r.floorsConsistent && r.physicallyPossible) accepted += r else rejected += r
    }
    val pool = if (accepted.nonEmpty) accepted.toSeq else rejected.toSeq
    val median = pool.sortBy(_.eff).apply(pool.size / 2)
    val thrHi = nDocs / median.tHi
    val thrLo = nDocs / median.tLo
    val tScanHi = median.scanHi
    val tScanLo = median.scanLo
    val eff = median.eff
    val computeEff = median.computeEff
    def roundJson(r: Round, ok: Boolean): String =
      s"""{"t_lo":${f"${r.tLo}%.3f"},"t_hi":${f"${r.tHi}%.3f"},""" +
        s""""scan_lo":${f"${r.scanLo}%.3f"},"scan_hi":${f"${r.scanHi}%.3f"},""" +
        s""""efficiency":${f"${r.eff}%.3f"},"accepted":$ok}"""
    val roundsJson = (accepted.map(roundJson(_, true)) ++ rejected.map(roundJson(_, false)))
      .mkString("[", ",", "]")

    // ---- pure parse-stack scaling (no Spark) on an in-memory slice
    val slice = {
      val rnd = new scala.util.Random(7)
      val words = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash")
      Array.tabulate(30000) { i =>
        val t = Array.fill(300 + rnd.nextInt(200))(words(rnd.nextInt(words.length))).mkString(" ")
        // even i -> PDF routed through all 9 corpus variants (encryption,
        // xref streams, encoded fonts, linearized included), odd i -> HTML
        if (i % 2 == 0) (true, Corpus.pdfForDoc(i.toLong, t)) else (false, Corpus.htmlFromText(t, i))
      }
    }
    pureParse(slice, cpus) // warm
    val pHi = math.max(pureParse(slice, cpus), pureParse(slice, cpus))
    val pLo = math.max(pureParse(slice, loCores), pureParse(slice, loCores))
    val parseEff = (pHi / pLo) / (cpus.toDouble / loCores)
    val cHi = math.max(cpuCeiling(cpus), cpuCeiling(cpus))
    val cLo = math.max(cpuCeiling(loCores), cpuCeiling(loCores))
    val cpuEff = (cHi / cLo) / (cpus.toDouble / loCores)

    val qs = results.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    val total = results.values.sum
    val scaling =
      s"""{"cores_lo":$loCores,"cores_hi":$cpus,"job":"extract_pipeline",""" +
        s""""docs_per_sec_lo":${f"$thrLo%.1f"},"docs_per_sec_hi":${f"$thrHi%.1f"},"efficiency":${f"$eff%.3f"},""" +
        s""""scan_floor_sec_lo":${f"$tScanLo%.3f"},"scan_floor_sec_hi":${f"$tScanHi%.3f"},"compute_efficiency":${f"$computeEff%.3f"},""" +
        s""""rounds":$roundsJson,""" +
        s""""parse_docs_per_sec_lo":${f"$pLo%.1f"},"parse_docs_per_sec_hi":${f"$pHi%.1f"},"parse_efficiency":${f"$parseEff%.3f"},""" +
        s""""cpu_efficiency":${f"$cpuEff%.3f"}}"""
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""bench_docs":$nDocs,"bench_mb":${f"$mb%.1f"},""" +
        // headline throughput = the FULL extraction job (text materialized),
        // comparable across rounds; the scaling block's docs_per_sec_* time
        // the same job per scaling tier (see scaling.job)
        s""""extract_docs_per_sec":${f"${nDocs / results("extract_pipeline")}%.1f"},"extract_mb_per_sec":${f"${mb / results("extract_pipeline")}%.1f"},""" +
        s""""query_rounds":$queryRoundsJson,""" +
        s""""scaling":$scaling}""")
  }
}
