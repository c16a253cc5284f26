package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A timed interval at a layer boundary; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Disabled, it
  * only runs the wrapped call. */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += Span(id, current, name, System.nanoTime(), -1L)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** A child span known only after the fact (a checkpoint stage, whose
    * bounds come from its manifest). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) spans += Span(spans.size, parent, name, startNs, endNs)

  /** Self time = duration minus the time its children cover. */
  def selfNs(s: Span): Long = {
    val covered = spans.iterator.filter(_.parent == s.id)
      .map(c => math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
      .filter(_ > 0).sum
    s.endNs - s.startNs - covered
  }

  def write(path: String): Unit = if (enabled && spans.nonEmpty) {
    val t0 = spans.map(_.startNs).min
    val lines = spans.map { s =>
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${selfNs(s) / 1e6}%.3f}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Task-level totals of one Spark stage. */
final case class StageRec(
    submitMs: Long, tasks: Int, taskMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, peakMem: Long, input: Long, output: Long,
    taskDurations: Seq[Long]) {
  def wallMs(completeMs: Long): Long = completeMs - submitMs
}

/** Counts jobs and task metrics for whatever runs while it is attached. */
final class EngineListener extends SparkListener {
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val done = mutable.ArrayBuffer.empty[(StageRec, Long)]
  private val open = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[TaskInfoMetrics]]
  private final case class TaskInfoMetrics(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics)

  def reset(): Unit = synchronized { jobStarts.clear(); done.clear(); open.clear() }
  def jobs: Seq[Long] = synchronized(jobStarts.toSeq)
  /** (stage, completion time in epoch ms) */
  def stages: Seq[(StageRec, Long)] = synchronized(done.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      open.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        TaskInfoMetrics(e.taskInfo, e.taskMetrics)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val ts = open.remove((info.stageId, info.attemptNumber())).map(_.toSeq).getOrElse(Seq.empty)
    val ms = ts.map(_.m)
    val rec = StageRec(
      submitMs = info.submissionTime.getOrElse(0L),
      tasks = ts.size,
      taskMs = ms.map(_.executorRunTime).sum,
      gcMs = ms.map(_.jvmGCTime).sum,
      shuffleWrite = ms.map(_.shuffleWriteMetrics.bytesWritten).sum,
      shuffleRead = ms.map(m => m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).sum,
      spill = ms.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum,
      peakMem = if (ms.isEmpty) 0L else ms.map(_.peakExecutionMemory).max,
      input = ms.map(_.inputMetrics.bytesRead).sum,
      output = ms.map(_.outputMetrics.bytesWritten).sum,
      taskDurations = ts.map(_.info.duration))
    done += ((rec, info.completionTime.getOrElse(System.currentTimeMillis())))
  }
}

/** Engine-wide counters for one timed call: the listener's view plus the
  * whole-stage codegen compile counters. */
final class EngineProbe(spark: SparkSession, cores: Int) {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  val listener = new EngineListener
  private var compiles0 = 0L
  private var compileNs0 = 0L

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  def begin(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    listener.reset()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
  }

  /** Drains the bus, then returns the `spark.*` metrics of the window. */
  def end(wallS: Double): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val st = listener.stages.map(_._1)
    val mb = 1024.0 * 1024.0
    val taskS = st.map(_.taskMs).sum / 1000.0
    val slowest = listener.stages.sortBy { case (r, c) => -r.wallMs(c) }.headOption.map(_._1)
    val skew = slowest.filter(_.taskDurations.nonEmpty).map { r =>
      val d = r.taskDurations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }.getOrElse(1.0)
    Map(
      "spark.jobs" -> listener.jobs.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.busy_frac" -> taskS / (wallS * cores),
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> st.map(_.spill).sum / mb,
      "spark.task_skew" -> skew,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "spark.codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "spark.codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "spark.peak_exec_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakMem).max / mb),
      "spark.input_mb" -> st.map(_.input).sum / mb,
      "spark.output_mb" -> st.map(_.output).sum / mb)
  }
}
