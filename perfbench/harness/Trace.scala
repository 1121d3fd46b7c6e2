package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark records around its own calls into graft. Kept in
  * memory and written out when the run ends. One pass of a workload is
  * one trace; a span's parent is the span open when it started. */
final class Spans(enabled: Boolean) {
  final case class Span(trace: Int, id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1
  var trace = 0

  def apply[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      open.pop()
      done += Span(trace, id, parent, name, t0, System.nanoTime())
    }
  }

  /** Seconds spent in spans named `name`. */
  def total(name: String): Double =
    done.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** One record per span, for the spans file. */
  def all: Seq[Map[String, Any]] = done.toSeq.map { s =>
    Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "dur_s" -> (s.endNs - s.startNs) / 1e9)
  }
}

/** Spark listeners the benchmark registers in a traced run. Jobs are
  * attributed to the harness span that launched them through the
  * `perfbench.span` local property; task and execution figures count only
  * inside the timed windows (warm-up, calibration and checks are
  * excluded). */
final class Trace(workload: String, allWriteKeys: Map[String, Seq[String]]) {
  private val writeKeys = allWriteKeys.getOrElse(workload, Nil)
  val SpanProp = "perfbench.span"
  private val windows = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val c = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private def add(k: String, v: Double): Unit = { c.merge(k, v, _ + _); () }
  private def measured(span: String): Boolean =
    span == "measure" || span == "construct" || span == "execute"
  private def inWindow(ms: Long): Boolean =
    windows.asScala.exists { case (a, b) => ms >= a && ms <= b }

  def window(startMs: Long, endMs: Long): Unit = { windows.add((startMs, endMs)); () }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      e.stageIds.foreach(s => if (span != null) stageSpan.put(s, span))
      if (measured(span)) {
        add("spark.jobs", 1)
        if (span == "construct") add("SparkEntry.construct_jobs", 1)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (measured(stageSpan.get(e.stageInfo.stageId))) {
        add("spark.stages", 1)
        if (e.stageInfo.numTasks == 1) add("spark.single_task_stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (measured(stageSpan.get(e.stageId))) {
        val i = e.taskInfo
        add("spark.tasks", 1)
        if (i.failed || i.killed) add("spark.tasks_failed", 1)
        intervals.add((i.launchTime, i.finishTime))
        add("spark.task_busy_s", (i.finishTime - i.launchTime) / 1e3)
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          add("spark.task_wait_s", math.max(0L, i.launchTime - s) / 1e3))
        Option(e.taskMetrics).foreach { m =>
          add("spark.task_run_s", m.executorRunTime / 1e3)
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.gc_s", m.jvmGCTime / 1e3)
          add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
          add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
          add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
        }
      }
  }

  /** Output paths written by one execution, as the directory keys the
    * `write.<workload>.<key>_s` metrics use. */
  private def writePaths(qe: QueryExecution): Seq[String] = {
    def fromLogical(p: LogicalPlan): Seq[String] = p.collect {
      case w: InsertIntoHadoopFsRelationCommand => Seq(w.outputPath.toString)
      case r: CommandResult => fromLogical(r.commandLogicalPlan)
    }.flatten
    val physical = qe.executedPlan.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
        case _ => None
      }
    }.flatten
    (fromLogical(qe.logical) ++ physical).distinct
  }

  /** Output root of the run; each pass writes under `<outRoot>/pass<N>`. */
  var outRoot: String = ""

  private def writeKey(path: String): String = {
    val rel = path.stripPrefix("file:").stripPrefix(outRoot.stripPrefix("file:") + "/")
    val key = rel.split('/').toSeq match {
      case _ if rel == path.stripPrefix("file:") => "other"
      case _ +: "medallion" +: (layer @ ("silver" | "gold")) +: table +: _ => s"${layer}_$table"
      case _ +: "medallion" +: dir +: _ => dir
      case _ +: "corpus" +: ("artifacts_image" | "artifacts_audio" | "artifacts_video") +: _ =>
        "artifacts_media"
      case _ +: "corpus" +: dir +: _ => dir
      case _ +: dir +: _ => dir
      case _ => "other"
    }
    if (writeKeys.contains(key)) key else "other"
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** (start ms, planning s, duration s, write key) per SQL execution;
    * windows are only known once a timed call returns, so executions are
    * matched to them when the metrics are read. */
  private val executions = new ConcurrentLinkedQueue[(Long, Double, Double, String)]()

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val plan = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      .map(_.durationMs / 1e3).sum
    val key = writePaths(qe).map(writeKey).headOption.getOrElse("other")
    executions.add((start, plan, durationNs / 1e9, key))
    ()
  }

  /** Per-pass figures over the measured windows. */
  def metrics(passes: Int, cores: Int): Map[String, Double] = {
    val wall = windows.asScala.map { case (a, b) => (b - a) / 1e3 }.sum
    val busy = union(intervals.asScala.toSeq.filter { case (a, _) => inWindow(a) })
    executions.asScala.filter { case (start, _, _, _) => inWindow(start) }.foreach {
      case (_, plan, dur, key) =>
        add("catalyst.executions", 1)
        add("catalyst.plan_s", plan)
        add(s"write.$workload.${key}_s", dur)
    }
    val get = (k: String) => Option(c.get(k)).map(_.doubleValue).getOrElse(0.0)
    val perPass = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
      "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.task_wait_s",
      "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
      "spark.input_mb", "spark.output_mb", "catalyst.plan_s", "catalyst.executions",
      "SparkEntry.construct_jobs") ++
      allWriteKeys.toSeq.flatMap { case (w, keys) => (keys :+ "other").map(k => s"write.$w.${k}_s") }
    perPass.map(k => k -> get(k) / passes).toMap ++ Map(
      "spark.driver_only_s" -> math.max(0.0, wall - busy) / passes,
      "spark.core_busy_frac" -> (if (wall > 0) get("spark.task_busy_s") / (cores * wall) else 0.0),
      "spark.single_task_stage_frac" ->
        (if (get("spark.stages") > 0) get("spark.single_task_stages") / get("spark.stages") else 0.0))
  }

  /** Seconds covered by the union of [start, end] millisecond intervals. */
  private def union(xs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { total += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    (total + (hi - lo)) / 1e3
  }
}
