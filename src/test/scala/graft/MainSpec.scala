package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.util.concurrent.atomic.AtomicLong

import graft.TempDirs.withTempDir
import graft.pipeline.{Checkpoint, Corpus, Main}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Sums the shuffle bytes every task of a context writes. Registered by
  * class name through `spark.extraListeners`, so it sees the session that
  * `Main` builds itself. */
class ShuffleBytesListener extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      ShuffleBytesListener.written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
}

object ShuffleBytesListener {
  val written = new AtomicLong
}

/** Counts the jobs a context starts; registered like [[ShuffleBytesListener]]. */
class JobCountListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = JobCountListener.started.incrementAndGet()
}

object JobCountListener {
  val started = new AtomicLong
}

/** Runs the `Main` submit path in process, as `spark-submit` would: `Main`
  * builds and stops its own session from the `spark.master` system
  * property, so every other session is stopped first and each submit's
  * stdout is captured. */
class MainSpec extends AnyFunSuite {

  private def stopSessions(): Unit =
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())

  private def withSession[A](body: SparkSession => A): A = {
    stopSessions()
    val s = SparkSession.builder().appName("graft-main-spec").master("local[2]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try body(s) finally s.stop()
  }

  /** One `Main.main` call; returns its stdout. */
  private def submit(args: String*): String = {
    stopSessions()
    val master = sys.props.get("spark.master")
    System.setProperty("spark.master", "local[2]")
    val buf = new ByteArrayOutputStream()
    try Console.withOut(new PrintStream(buf, true, "UTF-8"))(Main.main(args.toArray))
    finally master match {
      case Some(m) => System.setProperty("spark.master", m)
      case None    => System.clearProperty("spark.master")
    }
    buf.toString("UTF-8")
  }

  /** Writes `texts` as a page table of `files` parquet files, one row group
    * each; the default gives each of a submit's 2 cores one. */
  private def writePages(dir: String, texts: Seq[(Long, String)], files: Int = 2): Unit =
    withSession { s =>
      import s.implicits._
      texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }.toDS()
        .repartition(files).write.parquet(dir)
    }

  /** One submit with `listener` attached by class name; returns its
    * stdout and what the listener added to `counter`. */
  private def submitCounting(listener: Class[_ <: SparkListener], counter: AtomicLong)(
      args: String*): (String, Long) = {
    counter.set(0L)
    System.setProperty("spark.extraListeners", listener.getName)
    val printed =
      try submit(args: _*)
      finally System.clearProperty("spark.extraListeners")
    // Main's spark.stop() drains the listener bus before submit returns
    (printed, counter.get)
  }

  /** One submit with [[ShuffleBytesListener]] attached; returns its stdout
    * and the shuffle bytes its tasks wrote. */
  private def submitCountingShuffle(args: String*): (String, Long) =
    submitCounting(classOf[ShuffleBytesListener], ShuffleBytesListener.written)(args: _*)

  /** The committed output holds exactly `texts`, each with its expected
    * extracted text (even ids are PDFs). */
  private def assertCommitted(out: String, texts: Seq[(Long, String)]): Unit = withSession { s =>
    import s.implicits._
    val got = Checkpoint.readExtracted(s, out).select("url", "text").as[(String, String)].collect()
    val want = texts.map { case (id, t) =>
      Corpus.UrlPrefix + id -> (if (id % 2 == 0) Corpus.pdfExpectedText(id, t) else t)
    }
    assert(got.sorted.toSeq == want.sorted)
  }

  test("Main: fresh submit commits every doc, re-submit commits nothing, --delta prints statuses") {
    withTempDir("graft_spec_main") { dir =>
      val texts = (0L until 12L).map(i => i -> s"main submit document $i words")
      writePages(s"$dir/pages", texts)
      val out = s"$dir/out"

      val first = submit(s"$dir/pages", out)
      assert(first.contains("\"docs\":12,"), first)
      assertCommitted(out, texts)

      // a fully-resumed re-submit publishes nothing: no empty batch, no
      // leftover staging dir
      def listing() = Seq("extracted", "_manifest").map(d => new File(s"$out/$d").list.toSeq.sorted)
      val before = listing()
      assert(before.forall(_.count(_.startsWith("batch_")) == 1), before)
      val again = submit(s"$dir/pages", out)
      assert(again.contains("\"docs\":0,"), again)
      assert(listing() == before)

      // next snapshot: ids 0-2 changed, 3-5 removed, 6-11 unchanged, 12-14 added
      val next = texts.drop(6) ++ (0L until 3L).map(i => i -> s"changed document $i words") ++
        (12L until 15L).map(i => i -> s"added document $i words")
      writePages(s"$dir/next", next)
      val delta = submit("--delta", s"$dir/pages", s"$dir/next", s"$dir/delta_out")
      assert(delta.contains(""""statuses":{"added":3,"changed":3,"removed":3,"unchanged":6}"""), delta)
      assert(delta.contains("\"docs\":6,"), delta)
    }
  }

  test("Main: a fresh submit extracts straight off the scan splits and writes no shuffle bytes") {
    withTempDir("graft_spec_main_noshuffle") { dir =>
      val texts = (0L until 40L).map(i => i -> s"scan aligned document $i with a few more words")
      writePages(s"$dir/pages", texts)
      val out = s"$dir/out"
      val (printed, shuffled) = submitCountingShuffle(s"$dir/pages", out)
      assert(printed.contains("\"docs\":40,"), printed)
      assert(shuffled == 0L)
      assertCommitted(out, texts)
    }
  }

  test("Main: a fresh submit runs exactly one Spark job") {
    withTempDir("graft_spec_main_onejob") { dir =>
      val texts = (0L until 40L).map(i => i -> s"one job document $i with a few more words")
      writePages(s"$dir/pages", texts)
      val out = s"$dir/out"
      val (printed, jobs) = submitCounting(classOf[JobCountListener], JobCountListener.started)(
        s"$dir/pages", out)
      assert(printed.contains("\"docs\":40,"), printed)
      assert(jobs == 1L, s"a fresh submit started $jobs jobs")
      val again = submit(s"$dir/pages", out)
      assert(again.contains("\"docs\":0,"), again)
      assertCommitted(out, texts)
    }
  }

  test("Main: fewer row groups than cores are hash-spread before extraction") {
    withTempDir("graft_spec_main_spread") { dir =>
      val texts = (0L until 40L).map(i => i -> s"single file document $i with a few more words")
      writePages(s"$dir/pages", texts, files = 1)
      val out = s"$dir/out"
      val (printed, shuffled) = submitCountingShuffle(s"$dir/pages", out)
      assert(printed.contains("\"docs\":40,"), printed)
      assert(shuffled > 0L)
      assertCommitted(out, texts)
    }
  }
}
