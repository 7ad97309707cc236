package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import Stats.Interval

/** One time axis for harness spans and Spark events: epoch milliseconds
  * (Spark's event stamps) with nanoTime resolution for the spans. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed query execution: the module call that builds the DataFrame
  * (`build`, [start, built)) then the noop write that materializes it
  * (`action`, [built, end)). */
final case class QuerySpan(name: String, module: String, start: Double,
                           built: Double, end: Double, ok: Boolean) {
  def interval: Interval = Interval(start, end)
  def build: Interval = Interval(start, built)
  def wallS: Double = (end - start) / 1000.0
}

/** Process-wide counters read at pass boundaries: codegen compilations
  * and JIT and GC time from the JVM's management beans. */
final case class Counters(compiles: Long, jitMs: Long, gcMs: Long) {
  def -(o: Counters): Counters =
    Counters(compiles - o.compiles, jitMs - o.jitMs, gcMs - o.gcMs)
}
object Counters {
  def read(): Counters = Counters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum)
}

/** Records Spark's view of a run from public listener APIs: jobs, stages
  * and task metrics (`SparkListener`), planning phases and write stats
  * (`QueryExecutionListener`) and micro-batch progress
  * (`StreamingQueryListener`). Events are kept in memory and attributed
  * to the harness's query spans by time when [[summarize]] is called. */
final class TraceRecorder(cpus: Int) extends SparkListener with QueryExecutionListener {
  import TraceRecorder._

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val blocksSeen = mutable.Set.empty[String]
  private val blockAdds = mutable.ArrayBuffer.empty[(Double, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)]
  private val writes = mutable.ArrayBuffer.empty[(Double, Long)]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val streamStart = mutable.Map.empty[String, Double]
  private val streamEnd = mutable.Map.empty[String, Double]
  @volatile private var events = 0L

  private def seen[T](body: => T): Unit = synchronized { events += 1; body; () }

  // ---- SparkListener ----
  override def onJobStart(e: SparkListenerJobStart): Unit = seen {
    val props = Option(e.properties)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = new JobRec(e.time.toDouble, site,
      props.exists(_.getProperty("spark.sql.execution.id") != null),
      e.stageInfos.map(_.stageId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = seen {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = seen {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    s.submitted = true
    s.submitMs = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = seen {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    val info = e.taskInfo
    s.tasks += 1
    if (!info.successful) s.failures += 1
    s.durations += info.duration.toDouble
    if (!s.submitMs.isNaN) s.queueWaitMs += math.max(0.0, info.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = seen {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid && blocksSeen.add(b.blockId.name))
      blockAdds += ((Clock.nowMs, b.memSize + b.diskSize))
  }

  // ---- QueryExecutionListener ----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen {
    // stamped with the planning start: the callback itself arrives later
    val phases = qe.tracker.phases.values
    val at = if (phases.nonEmpty) phases.map(_.startTimeMs).min.toDouble else Clock.nowMs
    if (phases.nonEmpty) plans += ((at, phases.map(_.durationMs).sum.toDouble))
    // file writers report numFiles next to numOutputBytes; scans report
    // numFiles alone (files read)
    val files = PlanWalk.collect(qe.executedPlan)(_.metrics)
      .filter(_.contains("numOutputBytes")).flatMap(_.get("numFiles")).map(_.value).sum
    if (files > 0) writes += ((at, files))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen(())

  // ---- StreamingQueryListener ----
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      seen(streamStart(e.runId.toString) = Clock.nowMs)
    override def onQueryProgress(e: QueryProgressEvent): Unit = seen {
      val p = e.progress
      progress += Progress(p.runId.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      seen(streamEnd(e.runId.toString) = Clock.nowMs)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  /** Waits until the listener bus has delivered every job's end and has
    * been quiet for a moment, so a summary sees a pass's last events. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      val (n, open) = synchronized((events, jobs.values.count(_.end.isNaN)))
      settled = open == 0 && n == last
      last = n
      if (!settled) Thread.sleep(50)
    }
  }

  def detach(spark: SparkSession): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Writes the span tree run → pass → query → build/action → job as JSON
    * lines, each span with its self time (its length minus the union of
    * its children). Untraced passes have no job spans. */
  def writeSpans(path: java.nio.file.Path, passes: Seq[Harness.Pass]): Unit = synchronized {
    val out = new StringBuilder
    var nextId = 0
    def span(parent: Int, kind: String, name: String, iv: Interval,
             children: Seq[Interval], extra: String = ""): Int = {
      nextId += 1
      out ++= s"""{"id": $nextId, "parent": $parent, "kind": "$kind", "name": ${quote(name)}, """ +
        s""""start_ms": ${iv.start}, "end_ms": ${iv.end}, "self_ms": ${Stats.selfTime(iv, children)}$extra}\n"""
      nextId
    }
    def jobsIn(iv: Interval) = jobs.toSeq.sortBy(_._1).collect {
      case (id, j) if j.start >= iv.start && j.start < iv.end =>
        (id, j, Interval(j.start, if (j.end.isNaN) j.start else j.end))
    }
    val passIvs = passes.map(p => Interval(p.start, p.end))
    val run = span(0, "run", "run", Interval(passIvs.map(_.start).min, passIvs.map(_.end).max), passIvs)
    for (p <- passes) {
      val pid = span(run, "pass", p.index.toString, Interval(p.start, p.end),
        p.queries.map(_.interval), s""", "traced": ${p.traced}""")
      for (q <- p.queries) {
        val phases = Seq("build" -> q.build, "action" -> Interval(q.built, q.end))
        val qid = span(pid, "query", q.name, q.interval, phases.map(_._2),
          s""", "module": "${q.module}", "ok": ${q.ok}""")
        for ((kind, iv) <- phases) {
          val js = if (p.traced) jobsIn(iv) else Nil
          val phid = span(qid, kind, q.name, iv, js.map(_._3))
          for ((id, j, jiv) <- js)
            span(phid, "job", j.site, jiv, Nil, s""", "job_id": $id, "class": "${classOf(j)}"""")
        }
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.toString)
  }

  private def isMeta(j: JobRec): Boolean = !j.sqlExec && MetaSite.findFirstIn(j.site).isDefined
  private def isSink(j: JobRec): Boolean = j.stageIds.flatMap(stages.get).exists(_.outBytes > 0)
  private def classOf(j: JobRec): String =
    if (isMeta(j)) "sources.meta" else if (isSink(j)) "sinks" else "exec"

  /** Per-layer metrics of the given query spans (one pass). Events are
    * assigned to the span during which they started. */
  def summarize(queries: Seq[QuerySpan]): Map[String, Double] = synchronized {
    val windows = queries.map(_.interval)
    def within(t: Double): Boolean = windows.exists(w => t >= w.start && t < w.end)
    val js = jobs.values.filter(j => within(j.start)).toSeq
    def interval(j: JobRec) = Interval(j.start, if (j.end.isNaN) j.start else j.end)
    // a stage shared by several jobs runs once and is skipped in the others
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.submitted)
    val meta = js.filter(isMeta)
    val sink = js.filter(isSink)
    val inBuild = js.filter(j => queries.exists(q => j.start >= q.start && j.start < q.built))
    val wallMs = queries.map(_.interval.length).sum
    val gapMs = queries.map { q =>
      val qJobs = js.filter(j => j.start >= q.start && j.start < q.end).map(interval)
      q.interval.length - Stats.attributedTime(q.interval, qJobs)
    }.sum
    val jobUnionMs = Stats.unionLength(js.map(interval))
    val taskRunMs = ss.map(_.runMs).sum.toDouble
    val skews = ss.filter(_.durations.length >= 2).map { s =>
      val med = Stats.median(s.durations.toSeq)
      if (med > 0) s.durations.max / med else 1.0
    }
    val declared = js.map(_.stageIds.length).sum
    val prog = progress.filter(p => within(p.start)).toSeq
    def phase(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val runs = prog.map(_.runId).distinct
    val activeMs = runs.map { r =>
      (streamStart.get(r), streamEnd.get(r)) match {
        case (Some(a), Some(b)) => b - a
        case _ => 0.0
      }
    }.sum
    val triggerMs = prog.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
    def perStream(f: Progress => Long) =
      runs.map(r => prog.filter(_.runId == r).map(f).max).sum.toDouble
    Map(
      "sources.meta_jobs" -> meta.size.toDouble,
      "sources.meta_s" -> Stats.unionLength(meta.map(interval)) / 1000.0,
      "sources.input_bytes" -> ss.map(_.inBytes).sum.toDouble,
      "sources.input_rows" -> ss.map(_.inRows).sum.toDouble,
      "sinks.jobs" -> sink.size.toDouble,
      "sinks.s" -> Stats.unionLength(sink.map(interval)) / 1000.0,
      "sinks.output_bytes" -> ss.map(_.outBytes).sum.toDouble,
      "sinks.output_files" -> writes.filter(w => within(w._1)).map(_._2).sum.toDouble,
      "driver.plan_s" -> plans.filter(p => within(p._1)).map(_._2).sum / 1000.0,
      "driver.gap_s" -> gapMs / 1000.0,
      "driver.gap_frac" -> (if (wallMs > 0) gapMs / wallMs else 0.0),
      "build.s" -> queries.map(_.build.length).sum / 1000.0,
      "build.jobs" -> inBuild.size.toDouble,
      "materialize.blocks" -> blockAdds.count(b => within(b._1)).toDouble,
      "materialize.bytes" -> blockAdds.filter(b => within(b._1)).map(_._2).sum.toDouble,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.stages_skipped_frac" -> (if (declared > 0) 1.0 - ss.size.toDouble / declared else 0.0),
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> taskRunMs / 1000.0,
      "exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "exec.sched_wait_s" -> ss.map(_.queueWaitMs).sum / 1000.0,
      "exec.busy_frac" -> (if (jobUnionMs > 0) taskRunMs / (cpus * jobUnionMs) else 0.0),
      "exec.skew" -> (if (skews.nonEmpty) Stats.median(skews) else 1.0),
      "exec.task_failures" -> ss.map(_.failures).sum.toDouble,
      "shuffle.write_bytes" -> ss.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> ss.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> ss.map(_.fetchWaitMs).sum / 1000.0,
      "spill.bytes" -> ss.map(_.spill).sum.toDouble,
      "streaming.batches" -> prog.size.toDouble,
      "streaming.trigger_s" -> triggerMs / 1000.0,
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.wal_commit_s" -> phase("walCommit"),
      "streaming.commit_offsets_s" -> phase("commitOffsets"),
      "streaming.planning_s" -> phase("queryPlanning"),
      "streaming.idle_s" -> math.max(0.0, activeMs - triggerMs) / 1000.0,
      "streaming.state_rows" -> perStream(_.stateRows),
      "streaming.state_mem_bytes" -> perStream(_.stateMem))
  }
}

object TraceRecorder {
  /** Jobs Spark runs outside any SQL execution for a read: parquet/JSON/CSV
    * schema inference and parallel file listing, e.g. `parquet at Tables.scala:36`. */
  private val MetaSite = "^(parquet|json|csv|orc|text|load)\\b".r

  private final class JobRec(val start: Double, val site: String,
                             val sqlExec: Boolean, val stageIds: Seq[Int]) {
    var end: Double = Double.NaN
  }

  private final class StageAgg {
    var submitted = false
    var submitMs = Double.NaN
    var tasks = 0
    var failures = 0
    val durations = mutable.ArrayBuffer.empty[Double]
    var queueWaitMs, runMs, cpuNs, gcMs, inBytes, inRows, outBytes = 0.0
    var shWrite, shRead, fetchWaitMs, spill = 0.0
  }

  private final case class Progress(runId: String, start: Double,
                                    durations: Map[String, Long],
                                    stateRows: Long, stateMem: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every per-layer metric name [[TraceRecorder.summarize]] reports. */
  lazy val layerNames: Seq[String] = new TraceRecorder(1).summarize(Nil).keys.toSeq.sorted
}
