package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as perfbench/run.py passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      workDir: File, traceDir: File)

/** What one run reports: operations attempted and failed, and metrics. */
final class Report {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Count one operation; a false `ok` counts it failed and says why. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); Main.info(s"MISMATCH: $what") }
    ok
  }

  /** Run one operation; an exception counts it failed. */
  def attempt(what: String)(body: => Boolean): Boolean =
    try body
    catch { case e: Exception => check(ok = false, s"$what failed: $e") }

  def put(name: String, value: Double, unit: String): Unit =
    metrics.synchronized(metrics(name) = (value, unit))

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.synchronized(metrics.toSeq).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }
    s"""{"correct": ${failed.get == 0}, "attempted": ${math.max(1L, attempted.get)}, """ +
      s""""failed": ${failed.get}, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: its value,
    * the percentile, and the sample count. Under eleven samples it is the
    * maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 100.0, 0)
    else if (s.size < 11) (s.last, 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }
}

object Main {
  private val started = System.nanoTime()

  /** Report lines go to stdout ahead of the result line, stamped with the
    * seconds since the JVM started the benchmark.
    */
  def info(s: String): Unit = synchronized(println(f"# [${elapsedS()}%6.1f] $s"))

  /** Seconds since the JVM started the benchmark. */
  def elapsedS(): Double = (System.nanoTime() - started) / 1e9

  val Workloads = Seq("etl_cohort", "ingest_serve")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      new File(kv("work-dir")), new File(kv("trace-dir")))
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")

    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    val load0 = Host.loadavg1()
    val calib = Host.calibrate()
    val cpu0 = Host.processCpuS()
    val wall0 = System.nanoTime()
    info(s"run $runId trace=${o.trace} nproc=${Host.nproc} heap_mb=${Host.maxHeapMb} " +
      f"loadavg_before=$load0%.2f calib_s=$calib%.4f")

    val report = new Report
    val spans = new Spans(runId)
    val code =
      try {
        Genomic.run(o.workload, o, report, spans)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          info(s"run aborted: $e")
          1
      }

    val load1 = Host.loadavg1()
    val cpuOverWall = (Host.processCpuS() - cpu0) / ((System.nanoTime() - wall0) / 1e9)
    info(f"loadavg_after=$load1%.2f cpu_over_wall=$cpuOverWall%.3f peak_rss_mb=${Host.peakRssMb()}%.1f")
    if (o.trace) {
      report.put("host.calib_s", calib, "s")
      report.put("host.loadavg_before", load0, "load")
      report.put("host.loadavg_after", load1, "load")
      report.put("host.cpu_over_wall", cpuOverWall, "ratio")
      report.put("host.peak_rss_mb", Host.peakRssMb(), "MB")
      val selfTimes = spans.selfTimes
      info("self time per span (s, count):")
      selfTimes.toSeq.sortBy(-_._2._1).foreach { case (n, (s, c)) => info(f"  $n%-36s $s%10.4f $c%6d") }
      val traceFile = new File(o.traceDir, s"$runId.jsonl")
      spans.write(traceFile)
      info(s"spans written to $traceFile")
    }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    if (code == 0) println(report.json)
    sys.exit(if (code != 0) code else if (report.failed.get == 0) 0 else 1)
  }
}
