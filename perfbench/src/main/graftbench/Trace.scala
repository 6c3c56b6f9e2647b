package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level figures of one stage, summed as its tasks end. */
final class StageAgg {
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var wallMs = 0L
  def add(durationMs: Long, shuffleWrite: Long, spill: Long): Unit = {
    taskMs += durationMs; shuffleWriteBytes += shuffleWrite; spillBytes += spill
  }
}

/**
 * Listens to the Spark bus for the whole run: per-stage task figures keyed
 * by the job group that launched the stage, a job count per group, and
 * (through the QueryExecutionListener side) the shuffle-exchange count of
 * every executed plan. Everything is read on the main thread only after
 * [[Trace.drain]], so the bus thread is the only writer while jobs run.
 */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val jobsByGroup = mutable.HashMap.empty[String, Int]
  private val exchanges = mutable.ArrayBuffer.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.getOrElseUpdate(e.stageId, new StageAgg)
      .add(e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.getOrElseUpdate(i.stageId, new StageAgg).wallMs = c - s
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { exchanges += Recorder.countExchanges(qe.executedPlan) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Stages, jobs and plan-exchange counts recorded since the last take. */
  def take(): (Map[String, Seq[StageAgg]], Map[String, Int], Seq[Int]) = synchronized {
    val byGroup = stages.toSeq.groupBy { case (id, _) => stageGroup.getOrElse(id, "") }
      .map { case (g, ss) => g -> ss.map(_._2) }
    val out = (byGroup, jobsByGroup.toMap, exchanges.toSeq)
    stages.clear(); stageGroup.clear(); jobsByGroup.clear(); exchanges.clear()
    out
  }
}

object Recorder {
  /** Shuffle exchanges in the final (post-AQE) physical plan. */
  def countExchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case s: QueryStageExec => countExchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(countExchanges).sum
    case p => p.children.map(countExchanges).sum + p.subqueries.map(countExchanges).sum
  }
}

/** One timed region; self time excludes the children's wall time. */
final class Span(val name: String, val parent: Option[Span]) {
  var group = ""
  var wallNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var jobs = 0
  var stages: Seq[StageAgg] = Nil
  var exchanges = 0
  val children = mutable.ArrayBuffer.empty[Span]
  def wallS: Double = wallNs / 1e9
  def selfS: Double = (wallNs - children.map(_.wallNs).sum) / 1e9
  def selfCpuS: Double = (cpuNs - children.map(_.cpuNs).sum) / 1e9
  def selfGcS: Double = (gcMs - children.map(_.gcMs).sum) / 1e3
  def shuffleMb: Double = stages.map(_.shuffleWriteBytes).sum / 1e6
  def spillMb: Double = stages.map(_.spillBytes).sum / 1e6
  /** max/median task time of the span's longest stage (0 without stages). */
  def skew: Double =
    if (stages.isEmpty) 0.0
    else {
      val st = stages.maxBy(s => (s.wallMs, s.taskMs.sum))
      if (st.taskMs.isEmpty) 0.0
      else st.taskMs.max.toDouble / math.max(Stats.median(st.taskMs.map(_.toDouble).toSeq), 1.0)
    }
}

/**
 * Spans over the calling thread. Each span sets its own job group, so the
 * stages its jobs launch are attributed to it; on close the listener bus is
 * drained and the recorded stages, jobs and exchanges move into the span.
 * Nested spans restore the parent's group when they close.
 */
final class Trace(spark: SparkSession, recorder: Recorder) {
  private val sc = spark.sparkContext
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var current: Option[Span] = None
  private var seq = 0

  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(name, current)
    current.foreach(_.children += s)
    collect(current) // what ran before this span belongs to the parent
    seq += 1
    s.group = s"graftbench-$seq"
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    current = Some(s)
    val (c0, g0, t0) = (cpuNs(), gcMs(), System.nanoTime())
    try {
      val out = body
      (out, s)
    } finally {
      s.wallNs = System.nanoTime() - t0
      s.cpuNs = cpuNs() - c0
      s.gcMs = gcMs() - g0
      collect(Some(s))
      current = s.parent
      s.parent match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Move what the bus recorded so far into `into` (dropped for None). */
  private def collect(into: Option[Span]): Unit = {
    drain()
    val (stages, jobs, exch) = recorder.take()
    into.foreach { s =>
      s.stages ++= stages.getOrElse(s.group, Nil)
      s.jobs += jobs.getOrElse(s.group, 0)
      s.exchanges += exch.sum
    }
  }
}
