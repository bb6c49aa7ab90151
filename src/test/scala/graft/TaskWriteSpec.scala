package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import graft.TempDirs.withTempDir
import graft.pipeline.{Checkpoint, Corpus, ExtractPipeline}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object TaskWriteSpec {
  val failed = new AtomicInteger

  /** Passes rows through, but the first attempt of partition 0 throws
    * after `after` rows have reached the writer. */
  def failFirstAttempt(after: Int)(it: Iterator[InternalRow]): Iterator[InternalRow] = {
    val ctx = TaskContext.get
    if (ctx.partitionId != 0 || ctx.attemptNumber != 0) it
    else it.zipWithIndex.map { case (r, i) =>
      if (i == after) {
        failed.incrementAndGet()
        throw new IllegalStateException("planted first-attempt failure")
      }
      r
    }
  }
}

/** The commit's task-written files under task retries: a session that
  * retries each task once (`local[2,2]`). */
class TaskWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())
    val s = SparkSession.builder().appName("graft-task-write-spec").master("local[2,2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("OFF")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("a failed task attempt's file is never published; its retry commits every url once") {
    import spark.implicits._
    val texts = (0L until 24L).map(i => i -> s"attempt safety document $i words")
    val pages = spark.sparkContext.parallelize(texts.map { case (id, t) => Corpus.pageRowFor(id, t, "en") }, 2).toDS()
    withTempDir("graft_spec_attempt") { outDir =>
      TaskWriteSpec.failed.set(0)
      val rows = ExtractPipeline.extractRows(pages)
      val extract = rows.perTask
      val stats = Checkpoint.commitRows(
        rows.copy(perTask = it => TaskWriteSpec.failFirstAttempt(3)(extract(it))), outDir)
      assert(TaskWriteSpec.failed.get == 1, "the planted failure did not run")
      assert(stats.docs == 24)
      val urls = Checkpoint.readExtracted(spark, outDir).select("url").as[String].collect()
      assert(urls.sorted.toSeq == texts.map(Corpus.UrlPrefix + _._1).sorted)
      // the batch holds exactly the files its manifest lists: the failed
      // attempt's file is neither visible nor left behind
      val Seq(m) = Checkpoint.manifests(spark, outDir)
      val listed = m.files.map(f => new File(f).getName).toSet
      val batchDir = new File(Checkpoint.dataPath(outDir), m.dataBatch)
      val data = batchDir.list.filterNot(_.endsWith(".crc")).toSet
      assert(listed.size == 2 && data == listed, data)
    }
  }
}
