package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-pass tracer: one SparkListener, one QueryExecutionListener and
  * one StreamingQueryListener, all fed from the session's listener bus.
  *
  * Events arrive asynchronously, so nothing here is read until the
  * pass's SparkContext has stopped (stop drains the bus). Work is
  * attributed to a query through the job group the harness sets for
  * each window, and to a build or final phase through the
  * [[Tracer.PhaseProp]] local property; both ride on every job and
  * stage event, including jobs launched from broadcast threads. */
final class Tracer(cores: Int) extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val executionSite = mutable.Map.empty[Long, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stages = mutable.Map.empty[(Int, Int), StageAgg]
  private val pinned = mutable.Map.empty[Int, String]
  private val liveBlocks = mutable.Map.empty[String, Long]
  private var liveBytes = 0L
  private val liveSeries = mutable.ArrayBuffer.empty[(Long, Long)]
  private val actions = mutable.ArrayBuffer.empty[Action]
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(GroupProp))).getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionSite(x.executionId) = x.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // the result stage is created last, so it has the highest id and
    // carries this job's own call site; a job launched from a broadcast
    // or subquery thread has none of the program's frames there, so its
    // SQL execution's call site (taken on the calling thread) stands in
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = if (moduleOf(own) != "other") own
      else props.flatMap(p => Option(p.getProperty(ExecutionProp)))
        .flatMap(id => executionSite.get(id.toLong)).getOrElse(own)
    jobs(e.jobId) = Job(e.jobId, group(e.properties),
      props.map(_.getProperty(PhaseProp, "")).getOrElse(""),
      moduleOf(site), site.linesIterator.nextOption().getOrElse(""), e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup(info.stageId) = group(e.properties)
    stageSubmit(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    info.rddInfos.filter(_.storageLevel.isValid)
      .foreach(r => pinned.getOrElseUpdate(r.id, group(e.properties)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
      new StageAgg(stageGroup.getOrElse(info.stageId, ""))).completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val agg = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new StageAgg(stageGroup.getOrElse(e.stageId, "")))
    val ti = e.taskInfo
    agg.durations += ti.duration
    agg.waitMs += math.max(0L, ti.launchTime - stageSubmit.getOrElse(e.stageId, ti.launchTime))
    Option(e.taskMetrics).foreach { m =>
      agg.runMs += m.executorRunTime
      agg.gcMs += m.jvmGCTime
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      agg.input += m.inputMetrics.bytesRead
      agg.output += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockManagerId.executorId + "/" + b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      liveBytes += size - liveBlocks.getOrElse(key, 0L)
      if (size == 0L) liveBlocks.remove(key) else liveBlocks(key) = size
      // block updates carry no job group; the receipt time places them
      liveSeries += ((System.currentTimeMillis(), liveBytes))
    }
  }

  /** Catalyst phases of every Dataset action; attributed to windows by
    * the time the action's last phase ended. */
  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ns)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe, 0L)
    private def record(qe: QueryExecution, ns: Long): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val planMs = phases.collect {
        case (p, s) if p != "parsing" => s.durationMs
      }.sum
      val at = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.endTimeMs).max
      actions += Action(at, planMs, ns)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        batches += ((e.progress.numInputRows, e.progress.batchDuration))
      }
  }

  /** Job spans of one query, for the sidecar. */
  def jobSpans(query: String): Seq[Job] = synchronized {
    jobs.values.filter(_.group == query).toSeq
  }

  /** Counts of the jobs whose group is `g`. */
  def jobCount(g: String): Int = synchronized { jobs.values.count(_.group == g) }

  /** Per-layer figures of one pass. `windows` maps each query to its
    * [start, end] wall-clock window in ms. */
  def summary(windows: Map[String, (Long, Long)]): Map[String, Double] = synchronized {
    val qjobs = jobs.values.filter(j => windows.contains(j.group)).toSeq
    val qstages = stages.values.filter(s => windows.contains(s.group)).toSeq
    val wallMs = windows.values.map { case (a, b) => b - a }.sum.toDouble
    val busyMs = unionMs(qjobs.map(j => (j.start, if (j.end < 0) j.start else j.end)))
    val tasks = qstages.iterator.map(_.durations.size).sum
    val runMs = qstages.iterator.map(_.runMs).sum.toDouble
    val skews = qstages.filter(_.durations.size > 1).map { s =>
      val mean = s.durations.sum.toDouble / s.durations.size
      if (mean > 0) s.durations.max / mean else 1.0
    }.sorted
    def mb(f: StageAgg => Long): Double = qstages.iterator.map(f).sum / 1048576.0
    val inWindow = (t: Long) => windows.values.exists { case (a, b) => t >= a && t <= b }
    val acts = actions.filter(a => inWindow(a.at)).toSeq
    val durs = batches.map(_._2.toDouble).sorted.toSeq
    val byModule = qjobs.groupBy(_.module)
    val perModule = Modules.flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      Seq(s"jobs.$m" -> js.size.toDouble,
        s"job_s.$m" -> js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0)
    }
    Map(
      "spark.jobs" -> qjobs.size.toDouble,
      "spark.stages" -> qstages.count(_.completed).toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.idle_share" -> (if (wallMs > 0) 1.0 - busyMs / wallMs else 0.0),
      "spark.task_wait_s" -> qstages.iterator.map(_.waitMs).sum / 1000.0,
      "spark.executor_busy" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.shuffle_write_mb" -> mb(_.shuffleWrite),
      "spark.shuffle_read_mb" -> mb(_.shuffleRead),
      "spark.spill_mb" -> mb(_.spill),
      "spark.input_mb" -> mb(_.input),
      "spark.output_mb" -> mb(_.output),
      "spark.gc_share" -> (if (runMs > 0) qstages.iterator.map(_.gcMs).sum / runMs else 0.0),
      "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
      "spark.pins" -> pinned.values.count(windows.contains).toDouble,
      "spark.pinned_mb" -> liveSeries.filter(p => inWindow(p._1))
        .map(_._2).maxOption.getOrElse(0L) / 1048576.0,
      "sql.actions" -> acts.size.toDouble,
      "sql.plan_s" -> acts.map(_.planMs).sum / 1000.0,
      "sql.exec_s" -> acts.map(_.execNs).sum / 1e9,
      "queries.build_jobs" -> qjobs.count(_.phase == "build").toDouble,
      "queries.final_jobs" -> qjobs.count(_.phase == "final").toDouble,
      "stream.batches" -> durs.size.toDouble,
      "stream.rows" -> batches.map(_._1).sum.toDouble,
      "stream.batch_p50_ms" -> (if (durs.isEmpty) 0.0 else durs(durs.size / 2)),
      "stream.batch_max_ms" -> (if (durs.isEmpty) 0.0 else durs.last),
      "other_share" -> (if (qjobs.isEmpty) 0.0
        else byModule.getOrElse("other", Nil).size.toDouble / qjobs.size),
    ) ++ perModule
  }
}

object Tracer {
  val GroupProp = "spark.jobGroup.id"
  val PhaseProp = "perfbench.phase"
  val ExecutionProp = "spark.sql.execution.id"

  /** The modules jobs are attributed to; `other` takes jobs whose call
    * site holds no frame of a named module. */
  val Modules: Seq[String] = Seq("operators.Incremental", "operators.Dedup",
    "operators.Search", "operators.TextAnalysis", "operators.Quantization",
    "ops", "cdc", "sources", "reports", "streaming", "queries", "other")

  private val Named = Modules.filterNot(_ == "other")

  /** Module of the innermost call-site frame that belongs to a named
    * module. Frames of unnamed `graft` packages (core, functions, the
    * other operators) are skipped, so their jobs count toward the
    * module that called them. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at ")).flatMap { frame =>
      val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
      if (cls.headOption.contains("graft"))
        Named.find { m =>
          val parts = m.split('.')
          cls.length > parts.length &&
            cls.slice(1, parts.length + 1).map(_.takeWhile(_ != '$'))
              .sameElements(parts)
        }
      else None
    }.nextOption().getOrElse("other")

  final case class Job(id: Int, group: String, phase: String, module: String,
      site: String, start: Long, end: Long)

  final case class Action(at: Long, planMs: Long, execNs: Long)

  final class StageAgg(val group: String) {
    var completed = false
    val durations = mutable.ArrayBuffer.empty[Long]
    var waitMs, runMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
  }

  /** Length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart, curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total.toDouble
  }
}
