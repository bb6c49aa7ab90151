package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import perfbench.PerfBench.Mb
import scala.collection.mutable

/** What one traced `Main` submit left on the listener bus. Spark builds the
  * listener reflectively (`spark.extraListeners`) once per SparkContext, so
  * the harness hands it the recording through [[LayerTrace.current]]. */
final class SubmitTrace {
  final class Exec(val id: Long, val details: String, val plan: String) {
    /** accumulator id -> plan node it belongs to */
    val nodeOfAccum = mutable.Map.empty[Long, Int]
    /** plan nodes whose every leaf is a scan of a checkpoint manifest */
    val manifestNodes = mutable.Set.empty[Int]
    private var nextNode = 0

    def addPlan(p: SparkPlanInfo): Unit = { walk(p); () }

    /** Returns whether every leaf under `p` scans a `_manifest` location. */
    private def walk(p: SparkPlanInfo): Boolean = {
      val node = nextNode
      nextNode += 1
      p.metrics.foreach(m => nodeOfAccum(m.accumulatorId) = node)
      val manifestOnly =
        if (p.children.isEmpty) p.metadata.get("Location").exists(_.contains("/_manifest"))
        else p.children.map(walk).forall(identity)
      if (manifestOnly) manifestNodes += node
      manifestOnly
    }
  }

  final class Stage(val id: Int, val jobId: Int) {
    var startMs = 0L
    var endMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var outputBytes = 0L
    var spillBytes = 0L
    var cachedRdds: Seq[String] = Nil
    var accums: Set[Long] = Set.empty
    var details = ""
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  final class Job(val id: Int, val execId: Option[Long], val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = 0L
  }

  val execs = mutable.Map.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L
  var peakStoredBytes = 0L
  var peakRddBytes = 0L

  def blockUpdated(id: String, bytes: Long): Unit = {
    stored += bytes - blocks.getOrElse(id, 0L)
    if (bytes == 0) blocks.remove(id) else blocks(id) = bytes
    peakStoredBytes = math.max(peakStoredBytes, stored)
    if (id.startsWith("rdd_"))
      peakRddBytes = math.max(peakRddBytes, blocks.iterator.filter(_._1.startsWith("rdd_")).map(_._2).sum)
  }
}

/** Spark listener of the benchmark: it records jobs, stages, SQL executions
  * and storage blocks of the context it is registered on. */
class LayerListener extends SparkListener {
  private val t: SubmitTrace = LayerTrace.current

  override def onOtherEvent(e: SparkListenerEvent): Unit = t.synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val x = new t.Exec(s.executionId, s.details, s.physicalPlanDescription)
        x.addPlan(s.sparkPlanInfo)
        t.execs(s.executionId) = x
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        t.execs.get(u.executionId).foreach(_.addPlan(u.sparkPlanInfo))
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = t.synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    t.jobs(e.jobId) = new t.Job(e.jobId, exec, e.time, e.stageIds)
    e.stageInfos.foreach(si => if (!t.stages.contains(si.stageId)) t.stages(si.stageId) = new t.Stage(si.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = t.synchronized {
    t.jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
    t.stages.get(e.stageId).foreach(_.taskMs += e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = t.synchronized {
    val si = e.stageInfo
    val s = t.stages.getOrElseUpdate(si.stageId, new t.Stage(si.stageId, -1))
    s.startMs = si.submissionTime.getOrElse(0L)
    s.endMs = si.completionTime.getOrElse(s.startMs)
    val m = si.taskMetrics
    if (m != null) {
      s.runMs = m.executorRunTime
      s.cpuNs = m.executorCpuTime
      s.gcMs = m.jvmGCTime
      s.inputBytes = m.inputMetrics.bytesRead
      s.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
      s.outputBytes = m.outputMetrics.bytesWritten
      s.spillBytes = m.diskBytesSpilled
    }
    s.cachedRdds = si.rddInfos.filter(_.storageLevel.isValid).map(_.name).toSeq
    s.accums = si.accumulables.keySet.toSet
    s.details = si.details
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = t.synchronized {
    val b = e.blockUpdatedInfo
    t.blockUpdated(b.blockId.name, b.memSize + b.diskSize)
  }
}

/** Attribution of a traced submit to the steps of the `Main` job, and the
  * span tree the attribution is computed from. */
object LayerTrace {
  @volatile var current: SubmitTrace = new SubmitTrace

  /** Pipeline steps a Spark stage or job is attributed to. */
  val Steps: Seq[String] = Seq("Recrawl.delta", "Checkpoint.resume", "scan_salt", "extract",
    "metrics_job", "Checkpoint.data_write", "Checkpoint.manifest_write", "unmapped")

  final case class Span(name: String, start: Long, end: Long, parent: String, run: Int)

  final case class Breakdown(
      wallMs: Long,
      /** step -> ms of the submit wall, concurrent stages sharing an instant equally */
      stepMs: Map[String, Double],
      driverMs: Double,
      /** step -> summed stage metrics */
      cpuS: Map[String, Double],
      gcS: Map[String, Double],
      inputMb: Map[String, Double],
      shuffleWriteMb: Map[String, Double],
      outputMb: Map[String, Double],
      spillMb: Double,
      extractTaskMs: Seq[Long],
      jobs: Int, stages: Int, tasks: Int,
      offCpuRatio: Double,
      peakStorageMb: Double, cacheMb: Double,
      spans: Seq[Span],
      /** Σ self time over the span tree ÷ wall: 1 when stages and jobs
        * nest without overlap, above 1 by the share that ran concurrently */
      selfOverWall: Double,
      /** one row per stage: id, job, SQL execution, step, cached RDDs,
        * shuffle write bytes, wall ms */
      stageRows: Seq[Seq[Any]])

  /** The write target: the first location in the write command's own
    * section of a formatted plan, or its first argument in a simple one. */
  private val WriteTarget =
    "(?s)(?:\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand\\n.*?|Execute InsertIntoHadoopFsRelationCommand )(file:\\S+)".r.unanchored

  /** Step of a whole SQL execution, from its plan and the user call site:
    * writes by their target directory, the extraction (its plan holds the
    * `mapPartitions` of `ExtractPipeline.run`), the recrawl classification
    * (the only full outer join), then the resume listing. */
  private def execStep(x: SubmitTrace#Exec): String = x.plan match {
    case WriteTarget(path) =>
      if (path.contains("/_manifest/")) "Checkpoint.manifest_write"
      else if (path.contains("/extracted/")) "Checkpoint.data_write"
      else "unmapped"
    case plan if plan.contains("MapPartitions") && x.details.contains("graft.pipeline.Main$.main") => "main"
    case plan if plan.contains("FullOuter") => "Recrawl.delta"
    case _ if x.details.contains("Checkpoint$.resume") || x.details.contains("Checkpoint$.doneUrls") => "Checkpoint.resume"
    case _ => "unmapped"
  }

  /** The Recrawl work list is cached next to the extracted batch; its cached
    * plan is the only one that fingerprints payloads. */
  private def isDeltaCache(name: String): Boolean = name.contains("md5(")

  private def stageStep(t: SubmitTrace, s: SubmitTrace#Stage): String = {
    val job = t.jobs.get(s.jobId)
    job.flatMap(_.execId).flatMap(t.execs.get) match {
      case Some(x) =>
        execStep(x) match {
          case "main" =>
            val nodes = s.accums.flatMap(x.nodeOfAccum.get)
            if (nodes.nonEmpty && nodes.subsetOf(x.manifestNodes)) "Checkpoint.resume"
            // the stage that fills the batch cache reads the salted
            // shuffle; later stages of the metrics job only read the cache
            else if (s.cachedRdds.exists(n => !isDeltaCache(n)))
              if (s.shuffleReadBytes > 0) "extract" else "metrics_job"
            else if (s.cachedRdds.nonEmpty) "Recrawl.delta"
            else if (job.exists(_.stageIds.max == s.id) && s.shuffleWriteBytes == 0) "metrics_job"
            else "scan_salt"
          case step => step
        }
      case None =>
        // jobs outside any SQL execution: parquet schema inference when a
        // table is opened
        if (s.details.contains("Checkpoint$.resume") || s.details.contains("Checkpoint$.doneUrls")) "Checkpoint.resume"
        else if (s.details.contains("TableIO$.readPages")) "scan_salt"
        else "unmapped"
    }
  }

  private def jobStep(t: SubmitTrace, j: SubmitTrace#Job): String = {
    val steps = j.stageIds.flatMap(t.stages.get).filter(_.endMs > 0).map(stageStep(t, _)).distinct
    if (steps.size == 1) steps.head
    else j.execId.flatMap(t.execs.get).map(execStep).filter(_ != "main").getOrElse("unmapped")
  }

  /** Sweeps the submit wall `[startMs, endMs]`: each instant goes to the
    * stages running then (split equally), else to the jobs running then,
    * else to the driver. */
  def breakdown(t: SubmitTrace, run: Int, startMs: Long, endMs: Long): Breakdown = t.synchronized {
    val ran = t.stages.values.filter(s => s.endMs > 0 && s.startMs > 0).toSeq
    val stageIv = ran.map(s => (math.max(s.startMs, startMs), math.min(s.endMs, endMs), stageStep(t, s)))
    val jobIv = t.jobs.values.filter(_.endMs > 0).toSeq
      .map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs), jobStep(t, j)))
    val cuts = (Seq(startMs, endMs) ++ (stageIv ++ jobIv).flatMap(i => Seq(i._1, i._2)))
      .filter(c => c >= startMs && c <= endMs).distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var driver = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = stageIv.filter(i => i._1 <= a && i._2 >= b)
        val owners = if (active.nonEmpty) active else jobIv.filter(i => i._1 <= a && i._2 >= b)
        if (owners.isEmpty) driver += (b - a)
        else owners.foreach(o => acc(o._3) += (b - a).toDouble / owners.size)
      case _ =>
    }
    def sumBy(f: SubmitTrace#Stage => Double): Map[String, Double] =
      ran.groupBy(stageStep(t, _)).map { case (k, ss) => k -> ss.map(f).sum }
    val runMs = ran.map(_.runMs).sum
    val cpuMs = ran.map(_.cpuNs).sum / 1e6
    val spans = Seq(Span("submit", startMs, endMs, "", run)) ++
      t.jobs.values.filter(_.endMs > 0).map(j => Span(s"job${j.id}:${jobStep(t, j)}", j.startMs, j.endMs, "submit", run)) ++
      ran.map(s => Span(s"stage${s.id}:${stageStep(t, s)}", s.startMs, s.endMs, s"job${s.jobId}:" +
        t.jobs.get(s.jobId).map(jobStep(t, _)).getOrElse("unmapped"), run))
    // a span's self time is its duration minus the union of its children
    def union(iv: Seq[(Long, Long)]): Long =
      iv.sorted.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
    val selfMs = spans.map { p =>
      val kids = spans.filter(c => c.parent == p.name && c.run == p.run)
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end))).filter(i => i._2 > i._1)
      (p.end - p.start) - union(kids)
    }.sum
    Breakdown(
      wallMs = endMs - startMs,
      stepMs = Steps.map(k => k -> acc(k)).toMap,
      driverMs = driver,
      cpuS = sumBy(_.cpuNs / 1e9),
      gcS = sumBy(_.gcMs / 1e3),
      inputMb = sumBy(_.inputBytes / Mb),
      shuffleWriteMb = sumBy(_.shuffleWriteBytes / Mb),
      outputMb = sumBy(_.outputBytes / Mb),
      spillMb = ran.map(_.spillBytes).sum / Mb,
      extractTaskMs = ran.filter(stageStep(t, _) == "extract").flatMap(_.taskMs),
      jobs = t.jobs.size,
      stages = ran.size,
      tasks = ran.map(_.taskMs.size).sum,
      offCpuRatio = if (runMs > 0) 1.0 - cpuMs / runMs else 0.0,
      peakStorageMb = t.peakStoredBytes / Mb,
      cacheMb = t.peakRddBytes / Mb,
      spans = spans,
      selfOverWall = selfMs.toDouble / math.max(1L, endMs - startMs),
      stageRows = ran.map(s => Seq(s.id, s.jobId, t.jobs.get(s.jobId).flatMap(_.execId).getOrElse(-1L),
        stageStep(t, s), s.cachedRdds.map(_.take(120)), s.shuffleWriteBytes, s.endMs - s.startMs)))
  }
}
