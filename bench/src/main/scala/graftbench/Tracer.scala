package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Task numbers of one Spark stage, summed over its attempts. */
final class StageAgg {
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var failed = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outRecords = 0L
  var submitMs = Long.MaxValue
  var doneMs = 0L
}

final class JobSpan(val id: Int, val startMs: Long, val layer: Option[String], val stageIds: Seq[Int]) {
  var endMs: Long = Long.MaxValue
}

/** The traced run's span store: one span per Spark job (start, end, the
  * layer tag the benchmark set around the call, its stages) and the
  * task metrics of every stage, kept in memory until the run ends.
  * Only attached in traced runs; `busyNanos` is the time spent inside
  * its own callbacks, the cost it adds to the listener bus. */
final class Tracer extends SparkListener {
  private val spans = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private var busy = 0L

  def busyNanos: Long = synchronized(busy)

  private def handle(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busy += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
    spans(e.jobId) = new JobSpan(e.jobId, e.time, tag, e.stageIds)
    // a stage belongs to the first job that lists it: later jobs that
    // reuse its shuffle output list it as skipped
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = handle {
    spans.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = handle {
    val info = e.stageInfo
    val a = stages.getOrElseUpdate(info.stageId, new StageAgg)
    info.submissionTime.foreach(t => a.submitMs = math.min(a.submitMs, t))
    info.completionTime.foreach(t => a.doneMs = math.max(a.doneMs, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.taskMs += e.taskInfo.duration
    if (e.reason != org.apache.spark.Success) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
    }
  }

  def clear(): Unit = synchronized { spans.clear(); stageJob.clear(); stages.clear(); busy = 0L }

  def jobs: Seq[JobSpan] = synchronized(spans.values.toSeq)

  /** Jobs that ended inside (fromMs, toMs]. */
  def jobsEndingIn(fromMs: Long, toMs: Long): Seq[JobSpan] = synchronized {
    spans.values.filter(j => j.endMs > fromMs && j.endMs <= toMs).toSeq
  }

  def jobsTagged(layer: String): Seq[JobSpan] = synchronized {
    spans.values.filter(_.layer.contains(layer)).toSeq
  }

  def stagesOf(js: Seq[JobSpan]): Seq[StageAgg] = synchronized {
    val ids = js.map(_.id).toSet
    stageJob.collect { case (s, j) if ids(j) => stages.get(s) }.flatten.toSeq
  }
}

object Tracer {
  val LayerKey = "graftbench.layer"

  /** The per-layer statistics every layer reports, with units. */
  val LayerStats: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_s" -> "s", "idle_core_s" -> "s", "task_skew" -> "ratio",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "failed_tasks" -> "count", "rows_out" -> "count")

  private val MB = 1024.0 * 1024.0

  /** One layer's statistics from its stages, its wall time (measured
    * around its calls) and its output rows. `task_skew` is the worst
    * stage's max over median task time, among stages of at least two
    * tasks. */
  def layerStats(stages: Seq[StageAgg], wallS: Double, rowsOut: Long, cores: Int): Map[String, Double] = {
    val taskS = stages.map(_.taskMs.sum).sum / 1000.0
    val skews = stages.filter(_.taskMs.size >= 2)
      .map(s => s.taskMs.max / math.max(Run.median(s.taskMs.map(_.toDouble).toSeq), 1.0))
    Map(
      "wall_s" -> wallS,
      "task_s" -> taskS,
      "idle_core_s" -> math.max(0.0, cores * wallS - taskS),
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / MB,
      "shuffle_read_mb" -> stages.map(_.shuffleReadBytes).sum / MB,
      "spill_mb" -> stages.map(_.spillBytes).sum / MB,
      "failed_tasks" -> stages.map(_.failed).sum.toDouble,
      "rows_out" -> rowsOut.toDouble)
  }

  val Empty: Map[String, Double] = LayerStats.map(_._1 -> 0.0).toMap
}
