package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Annotations, Lake, ManifestLake, Vcf, model}
import graft.etl.model.PositionEntries

/** The genomic workloads: lookups alternating with full cohort rebuilds
  * (`etl_cohort`), and small batches committed, each then read
  * (`ingest_serve`). All inputs come from [[Gen]].
  */
object Genomic {
  import Gen.{AnnotationPaths, BucketSize => B}

  /** Chroms (bare names) the workloads' lakes cover, besides chrUn: enough
    * for per-chrom annotation files and partitions, few enough that a run
    * fits its time budget.
    */
  val LakeChroms: Vector[String] = Vector("1", "2", "3", "7", "12", "17", "X", "Y")

  /** A point lookup has lo == hi. */
  final case class Lookup(chrom: String, lo: Int, hi: Int) {
    def point: Boolean = lo == hi
    def kind: String = if (point) "point" else "range"
  }

  /** Per-layer metric names and units, in report order. A traced run
    * reports every one of them; a layer a workload never calls reads 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "Vcf.mutations.wall_s" -> "s", "Vcf.mutations.cpu_s" -> "s",
    "Vcf.mutations.rows" -> "count", "Vcf.mutations.tasks" -> "count",
    "Vcf.status.wall_s" -> "s") ++
    Seq("impact", "dbSnp", "gnomad", "alpha").flatMap(s => Seq(
      s"Annotations.$s.wall_s" -> "s", s"Annotations.$s.rows" -> "count",
      s"Annotations.$s.hit_ratio" -> "ratio")) ++ Seq(
    "Lake.build.wall_s" -> "s", "Lake.build.cpu_s" -> "s", "Lake.build.exchanges" -> "count",
    "Lake.build.shuffle_write_bytes" -> "bytes", "Lake.build.spill_bytes" -> "bytes",
    "Lake.build.rows" -> "count",
    "Lake.write.wall_s" -> "s", "Lake.write.files" -> "count", "Lake.write.bytes" -> "bytes",
    "Lake.writeStatus.wall_s" -> "s",
    "Lake.writeManifested.wall_s" -> "s", "Lake.writeManifested.files" -> "count",
    "ManifestLake.files_live" -> "count", "ManifestLake.versions" -> "count",
    "ManifestLake.read.plan_ms" -> "ms", "ManifestFileIndex.files_scanned" -> "count",
    "ManifestFileIndex.files_pruned_ratio" -> "ratio",
    "model.readLake.plan_ms" -> "ms", "model.readLake.exec_ms" -> "ms",
    "model.readLake.files_scanned" -> "count", "model.readLake.partitions_read" -> "count",
    "model.readLake.rows_scanned_per_row_returned" -> "ratio",
    "trace.overhead_ratio" -> "ratio")

  /** State shared by one run's workload code. */
  final class Ctx(val spark: SparkSession, val c: Collector, val o: Opts, val r: Report, val spans: Spans) {
    private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val latency: Map[String, ConcurrentLinkedQueue[Double]] =
      Seq("point", "range").map(_ -> new ConcurrentLinkedQueue[Double]).toMap
    /** Latencies of traced lookups, kept apart for the overhead figure. */
    val tracedLatency = new ConcurrentLinkedQueue[Double]

    /** Tracing overhead: traced lookups against the untraced ones they
      * alternate with. Rebuilds and batches are too few, and still warming
      * up, for a fair traced-against-untraced comparison.
      */
    def lookupOverhead(): Double =
      Stats.median(tracedLatency.asScala.toSeq) / Stats.median(latency.values.flatMap(_.asScala).toSeq) - 1

    /** One sample of a per-layer metric; the run reports the median. */
    def layer(name: String, v: Double): Unit =
      samples.synchronized(samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

    def span[T](on: Boolean, name: String)(body: => T): T = if (on) spans(name)(body) else body

    def putLayers(): Unit = if (o.trace) LayerMetrics.foreach { case (n, u) =>
      r.put(n, samples.synchronized(samples.get(n).map(s => Stats.median(s.toSeq))).getOrElse(0.0), u)
    }

    /** The end-to-end lookup metrics: the median per kind, and one tail
      * over every lookup. Both kinds take about the same time on these
      * lakes, and a run's share of each (about 25) would put a per-kind
      * tail near p60; over all of a run's 48 lookups it is p79.
      */
    def putLatencies(): Unit = if (!o.trace) {
      for ((kind, xs) <- latency) r.put(s"${kind}_p50_ms", Stats.median(xs.asScala.toSeq), "ms")
      val (tail, pct, n) = Stats.tail(latency.values.flatMap(_.asScala).toSeq)
      r.put("lookup_tail_ms", tail, "ms")
      Main.info(f"lookup_tail_ms is p$pct%.1f of $n%d lookups")
    }
  }

  def session(): SparkSession =
    SparkSession.builder().appName("graft-etl")
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()

  def run(workload: String, o: Opts, r: Report, spans: Spans): Unit = {
    // the generator needs no session, so it writes the inputs while the
    // session starts
    def generated[S](prepare: => S): () => S = {
      val t0 = System.nanoTime()
      val f = Future(prepare)(ExecutionContext.global)
      () => {
        val s = Await.result(f, Duration.Inf)
        Main.info(f"inputs ready ${(System.nanoTime() - t0) / 1e9}%.2f s after generation began")
        s
      }
    }
    val body: Ctx => Unit = workload match {
      case "etl_cohort" =>
        val s = generated(EtlCohort.prepare(o.seed, new File(o.workDir, "cohort")))
        x => EtlCohort.run(x, s())
      case "ingest_serve" =>
        val s = generated(IngestServe.prepare(o.seed, new File(o.workDir, "serve")))
        x => IngestServe.run(x, s())
    }
    val spark = session()
    val x = new Ctx(spark, new Collector(spark, plans = o.trace), o, r, spans)
    body(x)
    x.putLayers()
    if (o.trace) {
      // scan, exchange, aggregate, sort and write operators of every
      // action the traced units ran, from their executed plans
      x.c.sync()
      val shown = "(?i).*(scan|exchange|aggregate|sort|write|insert).*"
      Main.info("per-operator SQL metrics over traced actions:")
      x.c.operatorTotals.toSeq.filter { case (k, v) => v != 0 && k.matches(shown) }.sorted
        .foreach { case (k, v) => Main.info(f"  $k%-60s $v%16d") }
    }
  }

  // ---- ingest paths, exactly as the program's entry points call them ----

  def build(x: Ctx, in: String, ann: AnnotationPaths): DataFrame =
    Lake.build(x.spark, in, ann.impact, ann.dbSnp, false, ann.gnomad, ann.alpha)

  /** graft.etl.Main's sequence: build, overwrite the lake, write status.
    * Returns the wall seconds of each call.
    */
  def fullIngest(x: Ctx, in: String, ann: AnnotationPaths, lake: String, status: String,
                 on: Boolean): Map[String, Double] = x.span(on, "ingest") {
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try x.span(on, name)(body) finally steps(name) = (System.nanoTime() - t0) / 1e9
    }
    val df = step("Lake.build")(build(x, in, ann))
    step("Lake.write")(Lake.write(df, lake))
    val st = step("Vcf.status")(Vcf.status(x.spark, in))
    step("Lake.writeStatus")(Lake.writeStatus(st, status))
    steps.toMap
  }

  /** Bytes and count of the parquet files under a directory. */
  def parquetFiles(dir: File): (Long, Long) = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[File])
    fs.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = parquetFiles(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".parquet")) (n + 1, b + f.length) else (n, b)
    }
  }

  // ---- lookups ----

  def filter(l: Lookup): Column = {
    val buckets = (l.lo / B to l.hi / B).map(_.toLong)
    col("chrom") === l.chrom &&
      (if (buckets.size == 1) col("pos_bucket") === buckets.head else col("pos_bucket").isin(buckets: _*)) &&
      (if (l.point) col("pos") === l.lo else col("pos").between(l.lo, l.hi))
  }

  /** Seeded lookup mix over the lake's keys: point lookups that hit (40%)
    * and miss (10%), ranges inside one bucket (35%) and ranges across a
    * bucket boundary (15%). Keys are drawn with Zipf(1.1) popularity.
    * These shares, the exponent and the 2000-position range half-width are
    * assumptions: no source in the repository states the web app's traffic.
    */
  final class Mix(rnd: Random, keys: Vector[(String, Int)], buckets: Int, gen: Gen) {
    private val hot = rnd.shuffle(keys)
    private val cdf = {
      val w = hot.indices.map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def key(): (String, Int) = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      hot(math.min(hot.size - 1, if (i >= 0) i else -i - 1))
    }
    def next(): Lookup = {
      val (c, p) = key()
      val b = p / B
      val u = rnd.nextDouble()
      if (u < 0.40) Lookup(c, p, p)
      else if (u < 0.50) {
        var q = b * B + rnd.nextInt(B)
        while (q < 1 || gen.expected(c, q).isDefined) q = b * B + rnd.nextInt(B)
        Lookup(c, q, q)
      } else if (u < 0.85) Lookup(c, math.max(b * B, p - 2000), math.min(b * B + B - 1, p + 2000))
      else {
        val edge = if (b + 1 < buckets) (b + 1) * B else b * B
        Lookup(c, edge - 2000, edge + 1999)
      }
    }
  }

  /** Expected rows for a lookup, from the generator, over visible keys. */
  final class Expect(gen: Gen) {
    private val index: Map[String, Array[Int]] =
      gen.lakeKeys.groupBy(_._1).map { case (c, ks) => c -> ks.map(_._2).toArray.sorted }
    def apply(l: Lookup, visible: ((String, Int)) => Boolean): Seq[PositionEntries] = {
      val ps = index.getOrElse(l.chrom, Array.empty[Int])
      val from = java.util.Arrays.binarySearch(ps, l.lo) match { case i if i >= 0 => i; case i => -i - 1 }
      ps.iterator.drop(from).takeWhile(_ <= l.hi)
        .filter(p => visible((l.chrom, p))).flatMap(p => gen.expected(l.chrom, p)).toSeq
    }
  }

  /** Lake rows in a canonical order and form, for comparison. */
  def canonical(rows: Seq[PositionEntries]): Seq[PositionEntries] = rows.map(Gen.normalize).sortBy(_.pos)

  /** One lookup through `read`; `accept` judges its rows. Traced lookups
    * split planning from execution and record the scan's plan metrics
    * under `api`.
    */
  def lookup(x: Ctx, l: Lookup, read: () => Dataset[PositionEntries], api: String, on: Boolean)(
      accept: Seq[PositionEntries] => Boolean): Unit =
    x.span(on, s"lookup.${l.kind}") {
      val t0 = System.nanoTime()
      val ds = x.span(on, s"$api.plan") {
        val d = read().where(filter(l))
        if (on) d.queryExecution.executedPlan
        d
      }
      val t1 = System.nanoTime()
      val rows = x.span(on, s"$api.exec")(ds.collect())
      val t2 = System.nanoTime()
      val ms = (t2 - t0) / 1e6
      x.r.check(accept(canonical(rows.toSeq)), s"$l returned ${rows.length} unexpected rows")
      if (on) {
        val scans = Collector.planStats(ds).scans
        val files = scans.map(_.files).sum
        x.layer(s"$api.plan_ms", (t1 - t0) / 1e6)
        if (api == "ManifestLake.read") {
          x.layer("ManifestFileIndex.files_scanned", files)
          val indexed = scans.map(_.indexFiles).sum
          if (indexed > 0) x.layer("ManifestFileIndex.files_pruned_ratio", 1 - files.toDouble / indexed)
        } else {
          x.layer(s"$api.exec_ms", (t2 - t1) / 1e6)
          x.layer(s"$api.files_scanned", files)
          x.layer(s"$api.partitions_read", scans.map(_.partitions).sum)
          x.layer(s"$api.rows_scanned_per_row_returned",
            scans.map(_.rows).sum.toDouble / math.max(1, rows.length))
        }
        x.tracedLatency.add(ms)
      } else x.latency(l.kind).add(ms)
    }

  def readHive(x: Ctx, lake: String): () => Dataset[PositionEntries] =
    () => model.readLake(x.spark, lake)

  def readManifest(x: Ctx, lake: String): () => Dataset[PositionEntries] = {
    import x.spark.implicits._
    () => ManifestLake.read(x.spark, lake)
      .select("chrom", "pos_bucket", "pos", "entries").as[PositionEntries]
  }

  // ---- checks ----

  /** Every lake row equals the generator's, and no row is missing. */
  def checkLake(x: Ctx, gen: Gen, rows: Array[PositionEntries], visible: ((String, Int)) => Boolean): Boolean = {
    val keys = gen.lakeKeys.filter(visible)
    val got = rows.map(p => (p.chrom, p.pos) -> Gen.normalize(p)).toMap
    val bad = keys.filterNot(k => got.get(k) == gen.expected(k._1, k._2).map(Gen.normalize))
    x.r.check(rows.length == keys.size && bad.isEmpty,
      s"lake has ${rows.length} rows, expected ${keys.size}; ${bad.size} differ, first ${bad.take(3)}")
  }

  def checkRowsPerChrom(x: Ctx, lake: DataFrame, expected: Map[String, Long]): Boolean = {
    val got = lake.groupBy("chrom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    x.r.check(got == expected, s"rows per chrom $got, expected $expected")
  }

  /** Annotation hit ratios of the lake, checked against the generator's
    * counts and recorded as per-layer metrics.
    */
  def hitRatios(x: Ctx, lake: DataFrame, gen: Gen, visible: ((String, Int)) => Boolean): Unit = {
    val row = lake.select(explode(col("entries")).as("e"))
      .agg(count(lit(1)), count(col("e.impact")), count(col("e.dbSNP")),
        count(col("e.gnomad_an")), count(col("e.alphamissense")))
      .collect().head
    val (hits, all) = gen.annotatedAlleles(visible)
    val got = Seq("impact", "dbSnp", "gnomad", "alpha").zipWithIndex
      .map { case (s, i) => s -> row.getLong(i + 1) }.toMap
    x.r.check(row.getLong(0) == all && got == hits,
      s"alleles ${row.getLong(0)} and hits $got, expected $all and $hits")
    got.foreach { case (s, n) => x.layer(s"Annotations.$s.hit_ratio", n.toDouble / math.max(1L, all)) }
  }

  /** Standalone materializations (noop writes) of each layer the lake
    * build composes, for the per-layer breakdown; their spans are named
    * `probe:<layer>`. They re-read inputs Lake.build also reads, so the
    * join-plus-fold share is derived from them.
    */
  def probeLayers(x: Ctx, in: String, ann: AnnotationPaths): Unit = x.spans("probe") {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def counted(df: DataFrame, name: String): (DataFrame, Observation) = {
      val obs = new Observation(name)
      (df.observe(obs, count(lit(1)).as("rows")), obs)
    }
    def rowsOf(obs: Observation): Double = obs.get("rows").asInstanceOf[Long].toDouble
    x.c.sync()
    x.c.drainPlans()

    val (mut, mutObs) = counted(Vcf.mutations(x.spark, in), "mutations")
    val (_, mutWall, mutCounts) = x.c.measure(x.spans("probe:Vcf.mutations")(noop(mut)))
    x.layer("Vcf.mutations.wall_s", mutWall)
    x.layer("Vcf.mutations.cpu_s", mutCounts.cpuS)
    x.layer("Vcf.mutations.tasks", mutCounts.tasks)
    x.layer("Vcf.mutations.rows", rowsOf(mutObs))
    x.layer("Vcf.status.wall_s", x.c.measure(x.spans("probe:Vcf.status")(noop(Vcf.status(x.spark, in))))._2)

    def scanned(root: String): Double = x.c.drainPlans().flatMap(_.scans)
      .filter(_.root.contains(new File(root).getName)).map(_.rows).sum.toDouble
    var annWall = 0.0
    for ((name, root, df) <- Seq(
      ("impact", ann.impact, Annotations.impact(x.spark, ann.impact)),
      ("dbSnp", ann.dbSnp, Annotations.dbSnp(x.spark, ann.dbSnp, false)),
      ("gnomad", ann.gnomad, Annotations.gnomad(x.spark, ann.gnomad)))) {
      x.c.drainPlans()
      val wall = x.c.measure(x.spans(s"probe:Annotations.$name")(noop(df)))._2
      annWall += wall
      x.layer(s"Annotations.$name.wall_s", wall)
      x.layer(s"Annotations.$name.rows", scanned(root))
    }
    // attachAlpha joins onto a frame; over the bare mutations its own
    // share is the difference (derived)
    x.c.drainPlans()
    val alphaWall = x.c.measure(x.spans("probe:Annotations.alpha")(
      noop(Annotations.attachAlpha(Vcf.mutations(x.spark, in), ann.alpha))))._2 - mutWall
    annWall += alphaWall
    x.layer("Annotations.alpha.wall_s", alphaWall)
    x.layer("Annotations.alpha.rows", scanned(ann.alpha))

    val (built, buildObs) = counted(build(x, in, ann), "build")
    x.c.drainPlans()
    val (_, buildWall, buildCounts) = x.c.measure(x.spans("probe:Lake.build")(noop(built)))
    x.layer("Lake.build.wall_s", buildWall)
    x.layer("Lake.build.cpu_s", buildCounts.cpuS)
    x.layer("Lake.build.exchanges", x.c.drainPlans().map(_.exchanges).sum)
    x.layer("Lake.build.shuffle_write_bytes", buildCounts.shuffleWrite)
    x.layer("Lake.build.spill_bytes", buildCounts.spill)
    x.layer("Lake.build.rows", rowsOf(buildObs))
    Main.info(f"derived: join+fold share of Lake.build = ${buildWall - mutWall - annWall}%.3f s " +
      f"(Lake.build $buildWall%.3f - Vcf.mutations $mutWall%.3f - annotations $annWall%.3f)")
  }

  /** Median of a sample set, or the reason there is none. */
  def medianOf(xs: Seq[Double], what: String): Double = {
    require(xs.nonEmpty, s"no $what sample was taken")
    Stats.median(xs)
  }
}
