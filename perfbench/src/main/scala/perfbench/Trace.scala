package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: run → pass → op → layer call. `group` is the Spark job
  * group of the op it belongs to ("" outside ops).
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, var endNs: Long, group: String)

/** In-memory span recorder for the single client thread. While `active`
  * is false, [[span]] only runs its body.
  */
final class Trace {
  @volatile var active = false
  var group = ""
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String, kind: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.length, stack.headOption.fold(-1)(_.id), name, kind,
        System.nanoTime(), -1L, group)
      spans += s
      stack = s :: stack
      try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def all: Seq[Span] = spans.toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def selfNs(s: Span): Long =
    Stats.selfTime(s.startNs, s.endNs, children(s).map(c => (c.startNs, c.endNs)))
}

/** Spark-side counters per benchmark job group, from a SparkListener and a
  * QueryExecutionListener the benchmark registers. Groups start with "pb:";
  * other jobs are ignored.
  */
final class JobListener extends SparkListener with QueryExecutionListener {

  final class Agg {
    var jobs, stages, tasks, exchanges = 0
    var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input, outBytes = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = scala.collection.mutable.Map.empty[String, Agg]
  private val jobGroup = scala.collection.mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  // group of the latest job to start ("" for jobs outside benchmark ops):
  // a query execution's end event follows its jobs on the listener bus, so
  // its plan is attributed to the op whose jobs it ran
  private var lastGroup = ""
  @volatile private var events = 0L

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    lastGroup = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).getOrElse("")
    if (lastGroup.nonEmpty) {
      agg(lastGroup).jobs += 1
      jobGroup(e.jobId) = (lastGroup, e.time)
      e.stageIds.foreach(stageGroup(_) = lastGroup)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobGroup.remove(e.jobId).foreach { case (g, start) => agg(g).intervals += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      events += 1
      if (lastGroup.nonEmpty) agg(lastGroup).exchanges += JobListener.exchanges(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Block until no listener event has arrived for `quietMs` (at most 5 s),
    * so every event of the finished work has been counted.
    */
  def drain(quietMs: Long = 300): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1L
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(quietMs)
    }
  }

  def snapshot: Map[String, Agg] = synchronized(groups.toMap)
}

object JobListener {
  /** Shuffle exchanges in a plan's final (post-AQE) form, subqueries
    * included; reused exchanges are not counted again.
    */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: ReusedExchangeExec => 0
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    own + inner.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}

/** Process-wide counters read at phase boundaries. `threadCpuNs` holds the
  * CPU time of each live Java thread (the driver, executor task threads and
  * Spark's own threads; the JVM's JIT compiler and GC threads are not Java
  * threads). A difference keeps, per thread alive at the later reading, the
  * CPU it used since the earlier one.
  */
final case class Counters(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long,
    compiles: Long, compileMs: Double, filesDiscovered: Long, threadCpuNs: Map[Long, Long]) {
  def -(o: Counters): Counters = Counters(wallNs - o.wallNs, cpuNs - o.cpuNs,
    jitMs - o.jitMs, gcMs - o.gcMs, compiles - o.compiles, compileMs - o.compileMs,
    filesDiscovered - o.filesDiscovered,
    threadCpuNs.map { case (id, ns) => id -> (ns - o.threadCpuNs.getOrElse(id, 0L)) })

  def appCpuNs: Long = threadCpuNs.values.sum
}

object Counters {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}

  def now(): Counters = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans
    var gcMs = 0L
    gc.forEach(b => gcMs += math.max(0L, b.getCollectionTime))
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // the histogram keeps every sample until its reservoir (1028) fills;
    // past that the total is estimated from the mean
    val compileMs = if (h.getCount <= snap.size) snap.getValues.sum.toDouble
      else snap.getMean * h.getCount
    val threads = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val ids = threads.getAllThreadIds
    val threadCpu = ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
    Counters(System.nanoTime(), os.getProcessCpuTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime, gcMs,
      h.getCount, compileMs, HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount, threadCpu)
  }

  /** Peak resident set size in MB (VmHWM), 0 where /proc is absent. */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
