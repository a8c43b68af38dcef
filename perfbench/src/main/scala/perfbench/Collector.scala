package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals accumulated by [[Collector]]. */
final case class Counts(tasks: Long = 0, cpuNs: Long = 0, shuffleRead: Long = 0,
                        shuffleWrite: Long = 0, spill: Long = 0, jobs: Long = 0) {
  def -(o: Counts): Counts = Counts(tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill, jobs - o.jobs)
  def +(o: Counts): Counts = Counts(tasks + o.tasks, cpuNs + o.cpuNs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill, jobs + o.jobs)
  def cpuS: Double = cpuNs / 1e9
}

/** What one executed plan did: shuffle exchanges, file scans, and every
  * operator's SQL metrics summed by `<operator>.<metric>`.
  */
final case class PlanStats(exchanges: Int, scans: Seq[ScanStats], operators: Map[String, Long])

/** One file scan: its root paths, files and partitions read, rows output,
  * and the number of files its file index holds before pruning.
  */
final case class ScanStats(root: String, files: Long, partitions: Long, rows: Long, indexFiles: Long)

/** The benchmark's one metrics collector, shared by every workload.
  *
  * A task-end listener totals tasks, executor CPU time, shuffle bytes and
  * spill. With `plans = true` a query-execution listener also inspects
  * every executed plan (see [[PlanStats]]). Both listeners are fed
  * asynchronously; [[sync]] runs a one-task marker job and waits until the
  * listener has seen it end, so every event of earlier actions has been
  * counted. The marker's own job is not counted.
  */
final class Collector(spark: SparkSession, plans: Boolean) extends SparkListener {
  private val MarkerProp = "perfbench.marker"
  private val excludedStages = ConcurrentHashMap.newKeySet[Int]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val markersEnded = new AtomicLong
  private var counts = Counts()
  private val planBuffer = mutable.ArrayBuffer.empty[PlanStats]
  private val operators = mutable.HashMap.empty[String, Long]
  /** Whether executed plans are inspected now. Off until a traced unit
    * switches it on, so set-up and untraced units of a traced run pay
    * nothing for it and the overhead comparison is fair.
    */
  @volatile var inspect: Boolean = false

  spark.sparkContext.addSparkListener(this)
  if (plans) spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (inspect) {
        val stats = Collector.planStats(qe.executedPlan)
        planBuffer.synchronized {
          planBuffer += stats
          stats.operators.foreach { case (k, v) => operators(k) = operators.getOrElse(k, 0L) + v }
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty(MarkerProp) != null)) {
      markerJobs.add(e.jobId)
      e.stageIds.foreach(excludedStages.add)
    } else synchronized { counts = counts.copy(jobs = counts.jobs + 1) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markersEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && !excludedStages.contains(e.stageId)) synchronized {
      counts = counts + Counts(1, m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  /** Wait until every listener event of the actions already run is in. */
  def sync(): Unit = {
    val target = markersEnded.get + 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(MarkerProp)
    sc.setLocalProperty(MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProp, prev)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (markersEnded.get < target && System.nanoTime() < deadline) Thread.sleep(1)
    if (markersEnded.get < target) throw new IllegalStateException("listener events did not arrive")
  }

  def snapshot(): Counts = synchronized(counts)

  /** Plans executed since the last call (call [[sync]] first). */
  def drainPlans(): Seq[PlanStats] = planBuffer.synchronized {
    val out = planBuffer.toList
    planBuffer.clear()
    out
  }

  /** `<operator>.<metric>` SQL metrics summed over every inspected plan. */
  def operatorTotals: Map[String, Long] = planBuffer.synchronized(operators.toMap)

  /** Run `body` between two syncs; its result, wall seconds and counts. */
  def measure[T](body: => T): (T, Double, Counts) = {
    sync()
    val before = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    sync()
    (out, wall, snapshot() - before)
  }
}

object Collector extends AdaptiveSparkPlanHelper {

  /** Walk a finished plan, descending into adaptive stages and subqueries. */
  def planStats(plan: SparkPlan): PlanStats = {
    val nodes = collectWithSubqueries(plan) { case n => n }
    val scans = nodes.collect { case s: FileSourceScanExec =>
      def metric(name: String) = s.metrics.get(name).map(_.value).getOrElse(0L)
      ScanStats(s.relation.location.rootPaths.mkString(","), metric("numFiles"),
        metric("numPartitions"), metric("numOutputRows"), s.relation.location.inputFiles.length.toLong)
    }
    val operators = nodes.flatMap { n =>
      n.metrics.toSeq.map { case (k, m) => s"${n.nodeName}.$k" -> m.value }
    }.groupMapReduce(_._1)(_._2)(_ + _)
    PlanStats(nodes.count(_.isInstanceOf[ShuffleExchangeLike]), scans, operators)
  }

  /** Stats of a Dataset's plan after an action ran on that same Dataset. */
  def planStats(ds: Dataset[_]): PlanStats = planStats(ds.queryExecution.executedPlan)
}

/** In-memory span recorder for traced runs: name, start, end, parent and
  * run id per span, written out once at the end of the run.
  */
final class Spans(runId: String) {
  import Spans.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val ids = new AtomicLong
  private val origin = System.nanoTime()

  def apply[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet().toInt
    val parent = open.get.headOption.getOrElse(0)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      done.synchronized(done += Span(id, parent, name, t0 - origin, t1 - origin))
    }
  }

  def all: Seq[Span] = done.synchronized(done.toList)

  /** Self time (span minus its children) in seconds, and span count, per name. */
  def selfTimes: Map[String, (Double, Int)] = {
    val spans = all
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> (ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9, ss.size)
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Calm-host evidence stamped on every run. */
object Host {
  def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Wall seconds for a fixed pure-JVM job (MD5 of 200k strings), after
    * one warm-up pass: it tracks the host and JVM, not the program.
    */
  def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def pass(): Long = {
      var i = 0
      var acc = 0L
      while (i < 200000) { acc += md.digest(s"calibration-probe-$i".getBytes("UTF-8"))(0); i += 1 }
      acc
    }
    pass()
    val t0 = System.nanoTime()
    pass()
    (System.nanoTime() - t0) / 1e9
  }

  /** Process CPU seconds (all threads) so far. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Peak resident set size of this process (VmHWM) in MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => 0.0 }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def maxHeapMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)
}
