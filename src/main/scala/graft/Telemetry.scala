package graft

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-block cost records, attributed by Spark job tag rather than by time
  * window, so blocks on different threads are accounted apart.
  */
object Telemetry {

  /** What one tagged block cost. `wallNs` is the body alone; the executor
    * figures sum over every task of the block's stages; `planMs` sums the
    * `QueryPlanningTracker` phases (parsing, analysis, optimization,
    * planning) of its SQL executions; `exchanges` counts the shuffle
    * exchanges in their final physical plans (see [[shuffleExchanges]]) and
    * `filesRead` sums the files their scans opened (see [[scannedFiles]]).
    */
  final case class Record(
      wallNs: Long,
      jobs: Int,
      stages: Int,
      tasks: Int,
      cpuNs: Long,
      gcMs: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      diskSpillBytes: Long,
      memorySpillBytes: Long,
      sqlExecutions: Int,
      planMs: Long,
      exchanges: Int,
      filesRead: Long) {
    def cpuMs: Long = cpuNs / 1000000L
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges in `plan` and its subqueries. The walk descends into
    * AQE's final plan and into each query stage, so a stage and the
    * exchange it wraps count once; a reused exchange shuffles nothing new
    * and is not counted.
    */
  private def shuffleExchanges(plan: SparkPlan): Int =
    PlanWalk.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size

  /** The files the scans of one execution opened, from `posted`, the
    * driver-side metric updates that execution sent. The scans are those of
    * `plan`, its subqueries and the plans of the cached frames it reads. A
    * scan sends its `numFiles` once, when it runs (a dynamically pruned scan
    * counts the partitions it kept), so a frame's scan counts in the
    * execution that builds the frame and not in the ones that read it.
    */
  private def scannedFiles(plan: SparkPlan, posted: collection.Map[Long, Long])
      : Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      PlanWalk.collectWithSubqueries(p) {
        case s: FileSourceScanExec => Seq(s)
        case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      }.flatten
    scans(plan).flatMap(_.metrics.get("numFiles")).flatMap(m => posted.get(m.id)).sum
  }

  /** Sums the events of the jobs whose tag set `counts` accepts. A task is
    * attributed through its stage, whose submission carries the job tags;
    * a SQL execution through the tags it started under.
    */
  private[graft] final class Recorder(counts: Set[String] => Boolean)
      extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    private val executionIds = mutable.Set.empty[Long]
    private var jobs, tasks = 0
    private var cpuNs, gcMs, shuffleRead, shuffleWrite, diskSpill, memSpill,
      planMs = 0L
    private var exchanges = 0
    private var filesRead = 0L
    private val driverUpdates = mutable.Map.empty[Long, mutable.Map[Long, Long]]

    // the property SparkContext.addJobTag writes, comma-separated
    private def tagged(p: Properties): Boolean = counts(
      Option(p).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(',').toSet))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (tagged(e.properties)) jobs += 1
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        if (tagged(e.properties)) stageIds += e.stageInfo.stageId
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stageIds(e.stageId)) {
        tasks += 1
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        diskSpill += m.diskBytesSpilled
        memSpill += m.memoryBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if counts(s.jobTags) =>
          executionIds += s.executionId
        case u: SparkListenerDriverAccumUpdates if executionIds(u.executionId) =>
          driverUpdates.getOrElseUpdate(u.executionId, mutable.Map.empty) ++=
            u.accumUpdates
        case end: SparkListenerSQLExecutionEnd if executionIds(end.executionId) =>
          val posted = driverUpdates.remove(end.executionId)
            .getOrElse(mutable.Map.empty[Long, Long])
          Option(GraftBridge.queryExecution(end)).foreach { qe =>
            planMs += qe.tracker.phases.values.map(_.durationMs).sum
            // a failed execution may never have planned; planning it here
            // would run on the listener thread
            if (!GraftBridge.executionFailed(end)) {
              exchanges += shuffleExchanges(qe.executedPlan)
              filesRead += scannedFiles(qe.executedPlan, posted)
            }
          }
        case _ =>
      }
    }

    def record(wallNs: Long): Record = synchronized {
      Record(wallNs, jobs, stageIds.size, tasks, cpuNs, gcMs, shuffleRead,
        shuffleWrite, diskSpill, memSpill, executionIds.size, planMs, exchanges,
        filesRead)
    }
  }

  private val DrainTimeoutMs = 30000L
  private val blocks = new AtomicLong

  /** Run `body` under a fresh job tag and return what it cost. The tag is
    * a thread-local property that the threads Spark starts for the block
    * (broadcasts, subqueries, AQE stages) inherit, so concurrent blocks on
    * other threads are never counted. The listener bus is drained before
    * the record is read; a drain that times out raises, because a record
    * read then would miss the block's tail. A body that throws rethrows.
    *
    * Job-count tests: a second action on the same Dataset reuses its
    * materialized AQE stages and runs only the result job, so a warm count
    * must come from a freshly built DataFrame.
    */
  def measure(spark: SparkSession, tag: String)(body: => Any): Record = {
    val sc = spark.sparkContext
    val jobTag = s"graft-$tag-${blocks.incrementAndGet()}"
    val recorder = new Recorder(_.contains(jobTag))
    sc.addJobTag(jobTag)
    sc.addSparkListener(recorder)
    try {
      val t0 = System.nanoTime()
      body
      val wallNs = System.nanoTime() - t0
      GraftBridge.drainListenerBus(sc, DrainTimeoutMs)
      recorder.record(wallNs)
    } finally {
      sc.removeJobTag(jobTag)
      sc.removeSparkListener(recorder)
    }
  }
}
