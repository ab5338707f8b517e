package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Task and job totals of one layer (all jobs run under one job group). */
final class LayerStats {
  var jobs = 0
  var taskS = 0.0
  var gcS = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskS = 0.0
  var peakExecBytes = 0L
}

/** The benchmark's own listener: folds task metrics per job group, so each
  * public call is charged with every job it launches, eagerly or not, and
  * records SQL physical plans with their start time. Registered on the
  * benchmark's session only; the program is unaware of it. */
final class Trace extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val layers = mutable.Map.empty[String, LayerStats]
  private val plans = mutable.ArrayBuffer.empty[(Long, String)]

  private def layer(g: String): LayerStats = layers.getOrElseUpdate(g, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(s => stageGroup(s) = g)
    layer(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val l = layer(stageGroup.getOrElse(e.stageId, "none"))
      val runS = m.executorRunTime / 1e3
      l.taskS += runS
      l.gcS += m.jvmGCTime / 1e3
      l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      l.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      l.maxTaskS = math.max(l.maxTaskS, runS)
      l.peakExecBytes = math.max(l.peakExecBytes, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { plans += (s.time -> s.physicalPlanDescription) }
    case _ =>
  }

  /** stats of `group` after every posted event is delivered. */
  def stats(sc: SparkContext, group: String): LayerStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(layers.getOrElse(group, new LayerStats))
  }

  /** physical plans of SQL executions started in `[fromMs, toMs]`. */
  def plansBetween(sc: SparkContext, fromMs: Long, toMs: Long): Seq[String] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(plans.collect { case (t, p) if t >= fromMs && t <= toMs => p }.toSeq)
  }
}

object Trace {
  /** run `body` with its jobs tagged as `group`; returns (result, wall s). */
  def timed[A](sc: SparkContext, group: String)(body: => A): (A, Double) = {
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try { val r = body; (r, (System.nanoTime() - t0) / 1e9) }
    finally sc.clearJobGroup()
  }
}
