package perfbench

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

import graft.etl.model.{Entry, Evidence, PositionEntries}

/** Seeded generator of the genomic inputs: single-sample VCFs and the four
  * annotation sources, in the shapes the ETL reads them. The expected lake
  * rows and ingest-status counts come from this generator's own
  * bookkeeping, never from running the pipeline.
  *
  * Input quirks reproduced on purpose: gzipped and plain VCFs; `1/1`,
  * `0/1` and `1/2` genotypes (and a bare `0/1` with no AD token);
  * multi-allelic `A,G` ALTs; `chrUn_*` contigs that collapse to `chrUn`;
  * `.` QUAL values; tab-separated impact files named `.csv`, with rows
  * repeated across files and padded IMPACT; a dbSNP TSV with a `#` header;
  * gnomAD parquet without `hg38_coordinates`; per-chrom AlphaMissense
  * files where the ref base's own column is 0.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new Random(seed)

  /** Every position ever drawn (normalized chrom, pos) → its alleles. */
  private val universe = mutable.LinkedHashMap.empty[(String, Int), Vector[(String, String)]]
  private val annotations = mutable.HashMap.empty[Key, Ann]
  private val alpha = mutable.HashMap.empty[(String, Int), (String, Map[String, Double])]
  /** Observed evidence: (chrom, pos) → allele → (hom, het). */
  private type Evidences = (mutable.Set[Evidence], mutable.Set[Evidence])
  private val observed =
    mutable.HashMap.empty[(String, Int), mutable.LinkedHashMap[(String, String), Evidences]]
  private var sampleCounter = 0
  /** Set once the annotation tables are written: positions drawn after
    * that could collide with the tables' unrelated rows.
    */
  private var annotated = false

  /** Draw `n` new positions no earlier draw used, across `chroms` (bare
    * names; all of 1-22, X, Y by default) and a small share on chrUn,
    * within `buckets` lake buckets per chrom.
    * Annotations for them are decided here, so the annotation tables
    * written later cover positions that are only ingested later.
    */
  def positions(n: Int, buckets: Int, chroms: Vector[String] = Chroms): Vector[(String, Int)] = {
    require(!annotated, "draw every position before writing the annotation tables")
    val out = Vector.newBuilder[(String, Int)]
    var made = 0
    while (made < n) {
      val chrom =
        if (rnd.nextDouble() < 0.02) "chrUn" else "chr" + chroms(rnd.nextInt(chroms.size))
      val pos = 1 + rnd.nextInt(buckets * BucketSize - 1)
      if (!universe.contains((chrom, pos))) {
        val ref = Bases(rnd.nextInt(4))
        val alleles =
          if (rnd.nextDouble() < 0.03) Vector(ref -> otherBases(ref).take(2).mkString(","))
          else if (rnd.nextDouble() < 0.05) Vector((ref + Bases(rnd.nextInt(4))) -> ref)
          else if (rnd.nextDouble() < 0.2) otherBases(ref).take(2).map(ref -> _)
          else Vector(ref -> otherBases(ref).head)
        universe((chrom, pos)) = alleles
        annotate(chrom, pos, alleles)
        out += chrom -> pos
        made += 1
      }
    }
    out.result()
  }

  private def otherBases(ref: String): Vector[String] =
    rnd.shuffle(Bases.filterNot(_ == ref))

  private def annotate(chrom: String, pos: Int, alleles: Vector[(String, String)]): Unit = {
    if (chrom != "chrUn") {
      for ((ref, alt) <- alleles) {
        val impact = if (rnd.nextDouble() < 0.3) Some(Impacts(rnd.nextInt(Impacts.size))) else None
        val db = if (rnd.nextDouble() < 0.5) Some(s"rs${1000000 + rnd.nextInt(90000000)}") else None
        val gn = if (rnd.nextDouble() < 0.4) {
          val an = 100000L + rnd.nextInt(800000)
          val ac = rnd.nextInt(5000).toLong
          Some((an, ac, (ac * rnd.nextDouble() / 4).toLong))
        } else None
        annotations((chrom, pos, ref, alt)) = Ann(impact, db, gn)
      }
      if (rnd.nextDouble() < 0.45) {
        // the ref base's own column is 0; a share carries another base's
        // zero so the decode's ref check yields null for those positions
        val own = if (Bases.contains(alleles.head._1) && rnd.nextDouble() < 0.85)
          alleles.head._1 else Bases(rnd.nextInt(4))
        alpha((chrom, pos)) = own ->
          Bases.map(b => b -> (if (b == own) 0.0 else (1 + rnd.nextInt(9999)) / 10000.0)).toMap
      }
    }
  }

  /** Write `n` single-sample VCFs into `dir`, each carrying every one of
    * `sites` with probability `share` (one allele per position). Returns
    * the ingest status the pipeline must report for `dir`.
    */
  def samples(dir: File, n: Int, sites: Vector[(String, Int)], share: Double): Status = {
    dir.mkdirs()
    val coords = mutable.HashSet.empty[(String, Int)]
    val muts = mutable.HashSet.empty[(String, Int, String, String)]
    for (_ <- 0 until n) {
      sampleCounter += 1
      val id = f"S$seed%d_$sampleCounter%05d"
      val gz = sampleCounter % 3 != 0
      val file = new File(dir, if (gz) s"$id.vcf.gz" else s"$id.vcf")
      val os = new FileOutputStream(file)
      val w = new PrintWriter(new OutputStreamWriter(
        if (gz) new GZIPOutputStream(os) else os, "UTF-8"))
      try {
        w.println("##fileformat=VCFv4.2")
        w.println("##source=perfbench")
        w.println(s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$id")
        val picked = sites.filter(_ => rnd.nextDouble() < share)
          .sortBy { case (c, p) => (c, p) }
        for ((chrom, pos) <- picked) {
          val alleles = universe((chrom, pos))
          val (ref, alt) = alleles(rnd.nextInt(alleles.size))
          val rawChrom = if (chrom == "chrUn") UnContigs(rnd.nextInt(UnContigs.size)) else chrom
          val qualText = if (rnd.nextDouble() < 0.05) "."
            else "%.2f".formatLocal(java.util.Locale.ROOT, 20 + rnd.nextDouble() * 2000)
          val depth = 2 + rnd.nextInt(60)
          val (gt, hom) =
            if (alt.contains(",")) (s"1/2:0,${depth / 2},${depth - depth / 2}:$depth:40:90,30,0", false)
            else if (rnd.nextDouble() < 0.4) (s"1/1:0,$depth:$depth:6:82,6,0", true)
            else if (rnd.nextDouble() < 0.03) ("0/1", false)
            else (s"0/1:${depth / 2},${depth - depth / 2}:$depth:99:120,0,99", false)
          w.println(Seq(rawChrom, pos, ".", ref, alt, qualText, "PASS", s"AC=${if (hom) 2 else 1}",
            "GT:AD:DP:GQ:PL", gt).mkString("\t"))

          val ad = gt.split(":").lift(1)
          val ev = Evidence(id, if (qualText == ".") None else Some(qualText.toFloat), ad)
          val slot = observed.getOrElseUpdate((chrom, pos), mutable.LinkedHashMap.empty)
            .getOrElseUpdate((ref, alt), (mutable.Set.empty[Evidence], mutable.Set.empty[Evidence]))
          (if (hom) slot._1 else slot._2) += ev
          coords += rawChrom -> pos
          muts += ((rawChrom, pos, ref, alt))
        }
      } finally w.close()
    }
    Status(coords.size, muts.size, n)
  }

  /** Write the four annotation sources for every position drawn so far,
    * plus `extra` unrelated rows per source so the tables can be made many
    * times a batch's size.
    */
  def annotationFiles(dir: File, extra: Int): AnnotationPaths = {
    annotated = true
    val paths = AnnotationPaths(dir)
    Seq(paths.impact, paths.dbSnp, paths.gnomad, paths.alpha).foreach(p => new File(p).mkdirs())
    val extraKeys = Vector.newBuilder[Key]
    val extraAlpha = Vector.newBuilder[((String, Int), (String, Map[String, Double]))]
    val taken = mutable.HashSet.empty[(String, Int)]
    while (taken.size < extra) {
      val chrom = "chr" + Chroms(rnd.nextInt(Chroms.size))
      val pos = 1 + rnd.nextInt(10 * BucketSize)
      if (!universe.contains((chrom, pos)) && taken.add((chrom, pos))) {
        val ref = Bases(rnd.nextInt(4))
        extraKeys += ((chrom, pos, ref, otherBases(ref).head))
        extraAlpha += (chrom, pos) -> (ref -> Bases.map(b => b -> (if (b == ref) 0.0 else 0.5)).toMap)
      }
    }
    val extras = extraKeys.result()
    val known = annotations.toVector.sortBy(_._1)
    def bare(chrom: String) = chrom.stripPrefix("chr")

    // impact: two tab-separated "csv" files; a share of rows appear in
    // both (agreeing), and IMPACT values may carry padding
    val impactRows = known.collect { case (k, a) if a.impact.isDefined => k -> a.impact.get } ++
      extras.map(k => k -> "benign")
    val (first, second) = impactRows.partition(_ => rnd.nextBoolean())
    val repeated = impactRows.filter(_ => rnd.nextDouble() < 0.2)
    for ((name, rows) <- Seq("batch-1.csv" -> (first ++ repeated), "batch-2.csv" -> (second ++ repeated))) {
      writeText(new File(paths.impact, name), "CHROM\tPOS\tREF\tALT\tIMPACT",
        rows.map { case ((c, p, r, a), imp) =>
          val padded = if (rnd.nextDouble() < 0.3) s"  $imp " else imp
          s"${bare(c)}\t$p\t$r\t$a\t$padded"
        })
    }

    // dbSNP: one TSV with a `#` header row; chrUn rows never match
    // (the reader derives `chrUN`), exactly like a chrom-naming mismatch
    val unRows = universe.keys.filter(_._1 == "chrUn").toVector.sorted.map { case (_, p) =>
      s"Un\t$p\tA\tC\trs1"
    }
    writeText(new File(paths.dbSnp, "dbSNP.tsv"), "#CHROM\tPOS\tREF\tALT\tID",
      known.collect { case ((c, p, r, a), ann) if ann.dbSnp.isDefined =>
        s"${bare(c)}\t$p\t$r\t$a\t${ann.dbSnp.get}"
      } ++ extras.map { case (c, p, r, a) => s"${bare(c)}\t$p\t$r\t$a\trs${p}x" } ++ unRows)

    // gnomAD: one parquet per chrom, named c<chrom>_<from>m_<to>m, with no
    // hg38_coordinates column
    val gnomadSchema = MessageTypeParser.parseMessageType(
      "message gnomad { required int64 POS; required binary REF (UTF8); required binary ALT (UTF8);" +
        " required int64 gnomad_an; required int64 gnomad_ac; required int64 gnomad_nhomalt; }")
    val gnomadRows = known.collect { case (k, ann) if ann.gnomad.isDefined => k -> ann.gnomad.get } ++
      extras.map(k => k -> (1000L, 1L, 0L))
    for ((chrom, rows) <- gnomadRows.groupBy(_._1._1).toSeq.sortBy(_._1)) {
      writeParquet(new File(paths.gnomad, s"c${bare(chrom)}_0m_1m.parquet"), gnomadSchema,
        rows.sortBy(_._1._2)) { case (((_, p, r, a), (an, ac, nh)), g) =>
        g.append("POS", p.toLong).append("REF", r).append("ALT", a)
          .append("gnomad_an", an).append("gnomad_ac", ac).append("gnomad_nhomalt", nh)
      }
    }

    // AlphaMissense: one parquet per chrom named <chrom>.parquet, POS plus
    // one score column per base
    val alphaSchema = MessageTypeParser.parseMessageType(
      "message alpha { required int64 POS; required double A; required double C;" +
        " required double G; required double T; }")
    val alphaRows = alpha.toVector ++ extraAlpha.result()
    for ((chrom, rows) <- alphaRows.groupBy(_._1._1).toSeq.sortBy(_._1)) {
      writeParquet(new File(paths.alpha, s"${bare(chrom)}.parquet"), alphaSchema,
        rows.sortBy(_._1._2)) { case (((_, p), (_, scores)), g) =>
        Bases.foldLeft(g.append("POS", p.toLong))((gg, b) => gg.append(b, scores(b)))
      }
    }
    paths
  }

  /** The lake row the pipeline must produce at (chrom, pos), or None when
    * no ingested sample carries the position.
    */
  def expected(chrom: String, pos: Int): Option[PositionEntries] =
    observed.get((chrom, pos)).map { alleles =>
      PositionEntries(chrom, (pos / BucketSize).toLong, pos, alleles.toSeq.map {
        case ((ref, alt), (hom, het)) =>
          val ann = annotations.getOrElse((chrom, pos, ref, alt), Ann(None, None, None))
          Entry(ref, alt, ann.impact, ann.dbSnp, ann.gnomad.map(_._1), ann.gnomad.map(_._2),
            ann.gnomad.map(_._3), None, alphaScore(chrom, pos, ref, alt), hom.toSeq, het.toSeq)
      })
    }

  private def alphaScore(chrom: String, pos: Int, ref: String, alt: String): Option[Double] =
    alpha.get((chrom, pos)).collect {
      case (own, scores) if own == ref && Bases.contains(alt) && alt != ref => scores(alt)
    }

  /** Every observed position (the lake's rows), sorted. */
  def lakeKeys: Vector[(String, Int)] = observed.keys.toVector.sorted

  /** Expected lake rows per chrom for every position in a written sample. */
  def rowsPerChrom: Map[String, Long] =
    observed.keys.groupBy(_._1).map { case (c, ks) => c -> ks.size.toLong }

  /** Allele counts with a non-null value per source, and all alleles, over
    * the lake positions `visible` keeps.
    */
  def annotatedAlleles(visible: ((String, Int)) => Boolean): (Map[String, Long], Long) = {
    val all = lakeKeys.filter(visible).flatMap { case (c, p) => expected(c, p).get.entries }
    (Map(
      "impact" -> all.count(_.impact.isDefined).toLong,
      "dbSnp" -> all.count(_.dbSNP.isDefined).toLong,
      "gnomad" -> all.count(_.gnomad_an.isDefined).toLong,
      "alpha" -> all.count(_.alphamissense.isDefined).toLong), all.size.toLong)
  }

  def random: Random = rnd
}

object Gen {
  val BucketSize = 100000
  val Bases: Vector[String] = Vector("A", "C", "G", "T")
  val Chroms: Vector[String] = ((1 to 22).map(_.toString) ++ Seq("X", "Y")).toVector
  val UnContigs: Vector[String] = Vector("chrUn_KI270442v1", "chrUn_KI270743v1")
  val Impacts: Vector[String] = Vector("missense", "synonymous", "stop_gained", "impact XX test")

  type Key = (String, Int, String, String)
  final case class Ann(impact: Option[String], dbSnp: Option[String], gnomad: Option[(Long, Long, Long)])
  final case class Status(coordinates: Long, mutations: Long, samples: Long)

  final case class AnnotationPaths(root: File) {
    val impact: String = new File(root, "impact").getPath
    val dbSnp: String = new File(root, "dbsnp").getPath
    val gnomad: String = new File(root, "gnomad").getPath
    val alpha: String = new File(root, "alpha").getPath
  }

  /** Entries and evidence in a fixed order, so a lake row and an expected
    * row compare equal exactly when they hold the same sets.
    */
  def normalize(p: PositionEntries): PositionEntries =
    p.copy(entries = p.entries
      .map(e => e.copy(hom = e.hom.sortBy(_.toString), het = e.het.sortBy(_.toString)))
      .sortBy(_.toString))

  private def writeText(f: File, header: String, rows: Seq[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try { w.println(header); rows.foreach(w.println) } finally w.close()
  }

  private def writeParquet[T](f: File, schema: org.apache.parquet.schema.MessageType, rows: Seq[T])(
      fill: (T, org.apache.parquet.example.data.Group) => org.apache.parquet.example.data.Group): Unit = {
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(f.getAbsolutePath))
      .withType(schema).withConf(new Configuration()).build()
    try rows.foreach(r => w.write(fill(r, factory.newGroup()))) finally w.close()
  }
}
