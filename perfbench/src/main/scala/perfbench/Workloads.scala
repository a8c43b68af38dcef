package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.etl.{Lake, ManifestLake, model}

import Genomic._

/** `etl_cohort`: the web app's traffic against a cohort lake, interleaved
  * with full rebuilds of that lake in the order graft.etl.Main runs them.
  * Set-up runs the first (cold) rebuild, reads the whole lake back, sends
  * a few lookups and runs one more (warm-up) rebuild. The timed part
  * alternates blocks of lookups with a fixed number of timed rebuilds,
  * starting and ending with lookups: one closed-loop client sends point
  * and range lookups through model.readLake (3 per second of `--seconds`
  * over all blocks), never beside a rebuild. Spreading both kinds of
  * sample over the whole timed part keeps a passing slow-down of the host
  * from landing on most of one kind. A traced run adds one traced rebuild
  * after them. Sizes and the lookup mix are assumptions (see
  * perfbench/README.md), not measured traffic.
  */
object EtlCohort {
  val Positions = 2400
  val Buckets = 2
  val Samples = 12
  val Share = 0.3
  val ExtraAnnotations = 3000
  val WarmupLookups = 4
  val Ingests = 3
  val LookupsPerS = 3.0

  final class Setup(val dir: File, val gen: Gen, val status: Gen.Status, val ann: Gen.AnnotationPaths) {
    val in: String = new File(dir, "vcf").getPath
    val lake: String = new File(dir, "lake").getPath
    val statusDir: String = new File(dir, "status").getPath
  }

  def prepare(seed: Long, dir: File): Setup = {
    val gen = new Gen(seed)
    val sites = gen.positions(Positions, Buckets, Genomic.LakeChroms)
    val status = gen.samples(new File(dir, "vcf"), Samples, sites, Share)
    new Setup(dir, gen, status, gen.annotationFiles(new File(dir, "ann"), ExtraAnnotations))
  }

  def checkStatus(x: Ctx, s: Setup, ingests: Int): Boolean = {
    val rows = x.spark.read.json(s.statusDir)
      .select("coordinates_num", "mutations_num", "samples_num").collect()
      .map(r => Gen.Status(r.getLong(0), r.getLong(1), r.getLong(2)))
    x.r.check(rows.length == ingests && rows.forall(_ == s.status),
      s"status rows ${rows.toSeq}, expected $ingests of ${s.status}")
  }

  def run(x: Ctx, s: Setup): Unit = {
    val cold = x.c.measure(fullIngest(x, s.in, s.ann, s.lake, s.statusDir, on = false))
    Main.info(f"cold ingest: ${cold._2}%.2f s, ${cold._3.jobs} jobs, ${cold._3.tasks} tasks")
    x.r.attempt("lake content")(checkLake(x, s.gen, model.readLake(x.spark, s.lake).collect(), _ => true))
    var ingests = 1
    checkStatus(x, s, ingests)
    val mix = new Mix(new Random(x.o.seed * 31 + 7), s.gen.lakeKeys, Buckets, s.gen)
    val expect = new Expect(s.gen)
    val read = readHive(x, s.lake)
    def send(l: Lookup, on: Boolean): Unit = x.r.attempt("lookup") {
      lookup(x, l, read, "model.readLake", on)(_ == canonical(expect(l, _ => true)))
      true
    }

    val walls = Map(false -> mutable.ArrayBuffer.empty[Double], true -> mutable.ArrayBuffer.empty[Double])
    val cpus = mutable.ArrayBuffer.empty[Double]
    /** One rebuild, checked; `timed` keeps its wall and CPU time, and a
      * traced (`on`) one records the write and annotation layers.
      */
    def ingest(name: String, timed: Boolean, on: Boolean): Unit = {
      x.c.inspect = on
      x.r.attempt(name) {
        val (steps, wall, counts) = x.c.measure(fullIngest(x, s.in, s.ann, s.lake, s.statusDir, on))
        if (timed) {
          walls(on) += wall
          if (!on) cpus += counts.cpuS
        }
        Main.info(f"$name: $wall%.2f s, ${counts.jobs} jobs, ${counts.tasks} tasks")
        ingests += 1
        val lake = x.spark.read.parquet(s.lake)
        val ok = checkRowsPerChrom(x, lake, s.gen.rowsPerChrom) && checkStatus(x, s, ingests)
        if (on) {
          val (files, bytes) = parquetFiles(new File(s.lake))
          x.layer("Lake.write.wall_s", steps("Lake.write"))
          x.layer("Lake.write.files", files)
          x.layer("Lake.write.bytes", bytes)
          x.layer("Lake.writeStatus.wall_s", steps("Lake.writeStatus"))
          hitRatios(x, lake, s.gen, _ => true)
          probeLayers(x, s.in, s.ann)
        }
        ok
      }
      x.c.inspect = false
    }

    for (_ <- 0 until WarmupLookups) send(mix.next(), on = false)
    ingest("warm-up ingest", timed = false, on = false)
    x.latency.values.foreach(_.clear())
    val setup = Main.elapsedS()

    val lookups = (LookupsPerS * x.o.seconds).toInt
    for (i <- 0 to Ingests) {
      val block = i * lookups / (Ingests + 1) until (i + 1) * lookups / (Ingests + 1)
      val b0 = System.nanoTime()
      for (n <- block) send(mix.next(), x.o.trace && n % 2 == 1)
      Main.info(f"lookups ${block.start}-${block.last}: ${(System.nanoTime() - b0) / 1e6 / block.size}%.0f ms each")
      if (i < Ingests) ingest(s"ingest $i", timed = true, on = false)
    }
    // a traced run ends with one traced rebuild
    if (x.o.trace) ingest("traced ingest", timed = true, on = true)

    if (x.o.trace) {
      Main.info(f"trace overhead: lookups ${x.lookupOverhead()}%.3f; traced rebuild " +
        f"${walls(true).head / walls(false).last - 1}%.3f against the one before it")
      x.layer("trace.overhead_ratio", x.lookupOverhead())
    } else {
      x.r.put("setup_s", setup, "s")
      x.r.put("ingest_s", medianOf(walls(false).toSeq, "ingest"), "s")
      x.r.put("ingest_cpu_s", medianOf(cpus.toSeq, "ingest CPU"), "s")
      x.r.put("lake_bytes", parquetFiles(new File(s.lake))._2.toDouble, "bytes")
      x.putLatencies()
    }
    Main.info(f"setup $setup%.2f s; ingests ${walls(false).map(t => f"$t%.2f").mkString(" ")} s")
  }
}

/** `ingest_serve`: a manifest-committed base lake; each cycle builds a
  * small batch of new samples at new positions against annotation tables
  * many times its size, appends it with Lake.writeManifested, then one
  * closed-loop client reads the new head through ManifestLake.read: the
  * just-committed positions first, then a mix over the older ones. Every
  * run makes the same fixed number of cycles, so a faster program does the
  * same work. Sizes are assumptions (see perfbench/README.md).
  */
object IngestServe {
  val BasePositions = 2000
  val Buckets = 2
  val BaseSamples = 8
  val BaseShare = 0.3
  val Batches = 2
  val BatchPositions = 60
  val BatchChroms = 3
  val BatchSamples = 2
  val BatchShare = 0.7
  val ExtraAnnotations = 4000
  val LookupsPerCycle = 24
  val FreshLookups = 4
  val WarmupLookups = 4

  final class Setup(val dir: File, val gen: Gen, val base: Vector[(String, Int)],
                    val batches: Vector[Vector[(String, Int)]], val ann: Gen.AnnotationPaths) {
    val in: String = new File(dir, "base").getPath
    def batchIn(k: Int): String = new File(dir, s"batch-$k").getPath
    val lake: String = new File(dir, "lake").getPath
  }

  def prepare(seed: Long, dir: File): Setup = {
    val gen = new Gen(seed)
    val base = gen.positions(BasePositions, Buckets, Genomic.LakeChroms)
    // a batch's samples cover a few chroms, so a commit adds a few files
    val batches = Vector.fill(Batches)(
      gen.positions(BatchPositions, Buckets, gen.random.shuffle(Genomic.LakeChroms).take(BatchChroms)))
    gen.samples(new File(dir, "base"), BaseSamples, base, BaseShare)
    batches.zipWithIndex.foreach { case (sites, k) =>
      gen.samples(new File(dir, s"batch-$k"), BatchSamples, sites, BatchShare)
    }
    new Setup(dir, gen, base, batches, gen.annotationFiles(new File(dir, "ann"), ExtraAnnotations))
  }

  def run(x: Ctx, s: Setup): Unit = {
    val t1 = System.nanoTime()
    Lake.writeManifested(x.spark, build(x, s.in, s.ann), s.lake, replace = true)
    Main.info(f"base lake committed in ${(System.nanoTime() - t1) / 1e9}%.2f s")
    val rnd = new Random(x.o.seed * 31 + 17)

    // batch k's positions are visible once batches 0..k are committed
    val batchOf = s.batches.zipWithIndex.flatMap { case (b, k) => b.map(_ -> k) }.toMap
    def visibleAt(n: Int)(key: (String, Int)): Boolean = batchOf.get(key).forall(_ < n)
    val expect = new Expect(s.gen)
    val read = readManifest(x, s.lake)
    def send(l: Lookup, visible: Int, on: Boolean): Unit = x.r.attempt("lookup") {
      lookup(x, l, read, "ManifestLake.read", on)(_ == canonical(expect(l, visibleAt(visible))))
      true
    }
    x.r.attempt("lake content")(checkLake(x, s.gen, read().collect(), visibleAt(0)))
    val mix = new Mix(new Random(x.o.seed * 31 + 11), s.gen.lakeKeys.filter(visibleAt(0)), Buckets, s.gen)
    for (_ <- 0 until WarmupLookups) send(mix.next(), 0, on = false)
    x.latency.values.foreach(_.clear())
    val setup = Main.elapsedS()

    val walls = Map(false -> mutable.ArrayBuffer.empty[Double], true -> mutable.ArrayBuffer.empty[Double])
    val cpus = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until Batches) {
      val on = x.o.trace && k % 2 == 1
      x.c.inspect = on
      // the overhead compares lookups within the traced cycle only
      if (on) x.latency.values.foreach(_.clear())
      val live = ManifestLake.versions(x.spark, s.lake).last._2
      x.r.attempt(s"batch $k") {
        var commitWall = 0.0
        val (_, wall, counts) = x.c.measure(x.span(on, "batch") {
          val df = x.span(on, "Lake.build")(build(x, s.batchIn(k), s.ann))
          val t1 = System.nanoTime()
          x.span(on, "Lake.writeManifested")(Lake.writeManifested(x.spark, df, s.lake, replace = false))
          commitWall = (System.nanoTime() - t1) / 1e9
        })
        walls(on) += wall
        if (!on) cpus += counts.cpuS
        Main.info(f"batch $k: $wall%.2f s, commit $commitWall%.2f s, " +
          f"${counts.jobs} jobs, ${counts.tasks} tasks")
        val versions = ManifestLake.versions(x.spark, s.lake)
        if (on) {
          x.layer("Lake.writeManifested.wall_s", commitWall)
          x.layer("Lake.writeManifested.files", versions.last._2 - live)
        }
        x.r.check(versions.size == k + 2 && versions.last._2 > live,
          s"after batch $k: ${versions.size} versions with ${versions.last._2} live files (was $live)")
      }
      // read-your-write first: the just-committed positions, then the mix
      val landed = rnd.shuffle(s.batches(k).filter { case (c, p) => s.gen.expected(c, p).isDefined })
      val lookups = landed.take(FreshLookups - 1).map { case (c, p) => Lookup(c, p, p) } ++
        landed.headOption.map { case (c, p) =>
          val b = p / Gen.BucketSize * Gen.BucketSize
          Lookup(c, math.max(b, p - 2000), math.min(b + Gen.BucketSize - 1, p + 2000))
        } ++ Vector.fill(LookupsPerCycle - FreshLookups)(mix.next())
      for ((l, n) <- lookups.zipWithIndex) send(l, k + 1, on && n % 2 == 1)
    }

    val versions = ManifestLake.versions(x.spark, s.lake)
    if (x.o.trace) {
      x.layer("ManifestLake.versions", versions.size)
      x.layer("ManifestLake.files_live", versions.last._2)
      Main.info(f"trace overhead: lookups ${x.lookupOverhead()}%.3f; traced batch " +
        f"${walls(true).head / walls(false).last - 1}%.3f against the one before it")
      x.layer("trace.overhead_ratio", x.lookupOverhead())
      x.c.inspect = true
      hitRatios(x, ManifestLake.read(x.spark, s.lake), s.gen, visibleAt(Batches))
      probeLayers(x, s.batchIn(Batches - 1), s.ann)
    } else {
      x.r.put("setup_s", setup, "s")
      x.r.put("ingest_s", medianOf(walls(false).toSeq, "batch"), "s")
      x.r.put("ingest_cpu_s", medianOf(cpus.toSeq, "batch CPU"), "s")
      x.r.put("lake_bytes", versions.last._3.toDouble, "bytes")
      x.putLatencies()
    }
    Main.info(f"setup $setup%.2f s; $Batches batches, untraced ${walls(false).map(t => f"$t%.2f").mkString(" ")} s")
  }
}
