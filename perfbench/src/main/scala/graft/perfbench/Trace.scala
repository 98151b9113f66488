package graft.perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span: one call into a layer's public function, run
  * under a Spark job group of its own. */
final class Span(val name: String) {
  var startMs = 0L
  var endMs = 0L
  var wallS = 0.0
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExec = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var planningMs = 0L
  var codegenClasses = 0L
  /** (submission, completion) of every completed stage, epoch ms. */
  val stageWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task run times per stage, ms. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWall = mutable.Map.empty[Int, Long]

  /** Wall time covered by at least one running stage, clipped to the span. */
  def stageS: Double = {
    val clipped = stageWindows.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered / 1000.0
  }

  /** Wall time no running stage covers: driver planning, codegen, probes,
    * file listing, result handling and scheduling gaps. */
  def offstageS: Double = math.max(0.0, wallS - stageS)

  /** Max over median task time in the span's longest-running stage. */
  def skew: Double =
    if (stageWall.isEmpty) 1.0
    else {
      val longest = stageWall.maxBy(_._2)._1
      val ts = stageTasks.getOrElse(longest, mutable.ArrayBuffer(1L)).sorted
      val med = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / med
    }
}

/** The benchmark's own listeners: a SparkListener that attributes jobs,
  * stages and task metrics to the span whose job group submitted them,
  * and a QueryExecutionListener that reads each action's planning phases
  * from `QueryExecution.tracker`. Spans run one at a time. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val open = mutable.Map.empty[String, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  @volatile private var current: Span = null
  private var seq = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String)(f: => T): (T, Span) = {
    val s = new Span(name)
    val sc = spark.sparkContext
    seq += 1
    val group = s"perfbench-$seq-$name"
    synchronized { open(group) = s }
    current = s
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, s)
    } finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      s.codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      Bus.drain(sc)
      current = null
      synchronized { open.remove(group) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    open.get(group).foreach { s =>
      s.jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { s =>
      s.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime) {
        s.stageWindows += ((a, b))
        s.stageWall(info.stageId) = b - a
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  private def planning(qe: QueryExecution): Unit = {
    val s = current
    if (s != null) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      synchronized { s.planningMs += ms }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)
}

object Trace {
  private val MB = 1048576.0

  /** Driver, scheduler and executor metrics summed over `spans`. */
  def layers(spans: Seq[Span], cores: Int): Seq[(String, Double)] = {
    val wall = spans.map(_.wallS).sum
    val taskS = spans.map(_.taskMs).sum / 1000.0
    val longest = if (spans.isEmpty) None else Some(spans.maxBy(_.wallS))
    Seq(
      "driver.offstage_s" -> spans.map(_.offstageS).sum,
      "driver.planning_s" -> spans.map(_.planningMs).sum / 1000.0,
      "driver.codegen_classes" -> spans.map(_.codegenClasses).sum.toDouble,
      "driver.jobs" -> spans.map(_.jobs).sum.toDouble,
      "scheduler.stages" -> spans.map(_.stages).sum.toDouble,
      "scheduler.tasks" -> spans.map(_.tasks).sum.toDouble,
      "executor.deser_s" -> spans.map(_.deserMs).sum / 1000.0,
      "executor.task_s" -> taskS,
      "executor.cpu_s" -> spans.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> spans.map(_.gcMs).sum / 1000.0,
      "executor.utilization" -> (if (wall > 0) taskS / (cores * wall) else 0.0),
      "executor.shuffle_write_mb" -> spans.map(_.shuffleWrite).sum / MB,
      "executor.shuffle_read_mb" -> spans.map(_.shuffleRead).sum / MB,
      "executor.spill_mb" -> spans.map(_.spill).sum / MB,
      "executor.peak_exec_mb" -> (if (spans.isEmpty) 0.0 else spans.map(_.peakExec).max / MB),
      "executor.skew" -> longest.map(_.skew).getOrElse(1.0))
  }

  /** One span as a JSON object, for the per-call breakdown in the artifact. */
  def json(s: Span): String =
    f"""{"name":"${s.name}","wall_s":${s.wallS}%.4f,"stage_s":${s.stageS}%.4f,""" +
      f""""offstage_s":${s.offstageS}%.4f,"planning_s":${s.planningMs / 1000.0}%.4f,""" +
      s""""codegen_classes":${s.codegenClasses},"jobs":${s.jobs},"stages":${s.stages},""" +
      s""""tasks":${s.tasks},"task_s":${s.taskMs / 1000.0},"gc_s":${s.gcMs / 1000.0},""" +
      f""""shuffle_write_mb":${s.shuffleWrite / MB}%.4f,"spill_mb":${s.spill / MB}%.4f,""" +
      f""""input_mb":${s.inputBytes / MB}%.4f,"output_mb":${s.outputBytes / MB}%.4f,"skew":${s.skew}%.3f}"""
}
