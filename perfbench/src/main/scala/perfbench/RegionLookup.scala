package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** Shared input layout: contigs and sizes are fixed; positions and content
  * come from the seed. Sizes are chosen so one run (generation, the
  * set-up and the timed loop) fits the benchmark's per-run budget. */
object Layout {
  val CohortSamples = 384
  val CohortContigs = Seq("chr1", "chr2", "chr3") // chr3: declared, no records
  val CohortLen = 1200000
  val CohortGap = 800
  def cohort(seed: Long, sample: Int): Seq[Contig] =
    Contigs.layout(new SplittableRandom(seed * 7907 + sample), CohortContigs, CohortLen, CohortGap, Set("chr3"))
  def sampleName(s: Int): String = f"$s%03d"

  val BamContigs = Seq("chr1", "chr2", "chr3") // chr3: declared, no reads
  val BamLen = 5000000
  val BamGap = 50
  def bam(seed: Long): Seq[Contig] =
    Contigs.layout(new SplittableRandom(seed * 31 + 5), BamContigs, BamLen, BamGap, Set("chr3"), Gen.ReadLen)

  val FastaContigs = Seq("chr1", "chr2", "chr3", "chr4")
  val FastaLen = 8000000

  /** Write `dir` with `body` unless a completed copy exists. */
  def once(dir: File)(body: => Unit): Unit = {
    val done = new File(dir, "_done")
    if (!done.exists()) {
      deleteTree(dir); dir.mkdirs()
      body
      done.createNewFile()
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def genBam(dir: File, seed: Long): Unit = once(new File(dir, "bam")) {
    Gen.bam(new File(dir, "bam/reads.bam"), bam(seed), seed)
  }

  /** Reference base i (0-based) of contig r: random access, so a region
    * check needs no copy of the reference in memory. */
  def refBase(seed: Long, r: Int, i: Int): Byte = {
    val word = Gen.mix(seed * 1000003L + r.toLong * 0x100000000L + i / 31)
    "ACGT".charAt(((word >>> (2 * (i % 31))) & 3).toInt).toByte
  }

  def genFasta(dir: File, seed: Long): Unit = once(new File(dir, "fasta")) {
    Gen.fasta(new File(dir, "fasta/ref.fa"), FastaContigs, FastaLen, r => i => refBase(seed, r, i))
  }

  /** Approximate bytes of a result row: the lengths of its rendered fields. */
  def rowBytes(r: Row): Long = {
    var n = 0L; var i = 0
    while (i < r.length) { val v = r.get(i); n += (if (v == null) 0 else v.toString.length); i += 1 }
    n
  }
}

/** Narrow region queries through the index-pruned `*_region_filter` path
  * (FASTA through `fasta_indexed_scan`), taking turns over four op types. */
final class RegionLookup extends Workload {
  import Layout._

  val kinds = Seq("region.vcf_cohort", "region.bam_bai", "region.fasta_fai", "region.vcf_cohort4")
  /** Traced runs only: region queries of the BAM over S3, and each one's limit. */
  val S3Queries = 8
  val S3TimeoutS = 20.0
  private var cohortTruth: Array[Seq[Contig]] = _
  private var bamTruth: Seq[Contig] = _

  def generate(dir: File, seed: Long): Unit = {
    once(new File(dir, "cohort")) {
      java.util.stream.IntStream.range(0, CohortSamples).parallel().forEach { s =>
        Gen.vcf(new File(dir, s"cohort/sample=${sampleName(s)}"), "calls.vcf.gz", cohort(seed, s), seed * 13 + s)
      }
    }
    genBam(dir, seed)
    genFasta(dir, seed)
  }

  def tables(c: Ctx): Unit = {
    val d = c.inputs.getAbsolutePath
    c.spark.sql(s"CREATE TABLE cohort USING vcf LOCATION '$d/cohort'")
    c.spark.sql(s"CREATE TABLE reads USING bam LOCATION '$d/bam/reads.bam'")
    if (cohortTruth == null) {
      cohortTruth = Array.tabulate(CohortSamples)(s => cohort(c.seed, s))
      bamTruth = bam(c.seed)
    }
  }

  private var issued = 0

  def warm(c: Ctx): Unit = {
    val rng = new SplittableRandom(c.seed + 99)
    kinds.indices.foreach(k => query(c, k, rng, k).run())
  }

  /** Untimed, after the set-up: three more rounds of the op types, so the
    * first timed queries do not pay for JIT compilation the set-up's one
    * round leaves undone. */
  override def prepare(c: Ctx): Unit = {
    val rng = new SplittableRandom(c.seed + 98)
    (0 until 3 * kinds.length).foreach(i => query(c, i % kinds.length, rng, i).run())
  }

  /** The op types take turns, so every run has the same mix. */
  def unit(c: Ctx, rng: SplittableRandom): Seq[Op] = {
    issued += 1
    Seq(query(c, issued % kinds.length, rng, issued))
  }

  /** Region width log-uniform in [100 bp, 100 kb], drawn from a golden-ratio
    * sequence so each run covers the same widths; every 20th VCF or BAM
    * query hits the declared-but-empty contig. Positions are seeded. */
  private def region(rng: SplittableRandom, i: Int, contigs: Seq[String], len: Int,
                     empty: Option[String]): (String, Int, Int) = {
    val u = (0.5 + i * 0.6180339887498949) % 1.0
    val w = math.exp(math.log(100) + u * (math.log(100000) - math.log(100))).toInt
    val lo = 1 + rng.nextInt(len - w)
    val name = empty match {
      case Some(e) if (i / kinds.length) % 20 == 7 => e
      case _ => contigs(rng.nextInt(contigs.length - (if (empty.isDefined) 1 else 0)))
    }
    (name, lo, lo + w - 1)
  }

  private def query(c: Ctx, kind: Int, rng: SplittableRandom, i: Int): Op = kind match {
    case 0 | 3 =>
      val samples = Seq.fill(if (kind == 0) 1 else 4)(rng.nextInt(CohortSamples)).distinct
      val (chr, lo, hi) = region(rng, i, CohortContigs, CohortLen, Some("chr3"))
      Op(kind, () => {
        val rows = c.collect(c.spark.sql(
          s"SELECT sample, chrom, pos, ref, alt, qual, info FROM cohort " +
            s"WHERE sample IN (${samples.map(s => s"'${sampleName(s)}'").mkString(", ")}) " +
            s"AND vcf_region_filter('$chr:$lo-$hi', chrom, pos)"))
        val want = samples.flatMap { s =>
          val ps = cohortTruth(s).find(_.name == chr).get.pos
          ps.slice(Contigs.lowerBound(ps, lo), Contigs.lowerBound(ps, hi + 1)).map(p => (sampleName(s), p.toLong))
        }.sorted
        val got = rows.map(r => (r.getString(0), r.getLong(2))).toSeq.sorted
        Outcome.check(got == want, s"samples ${samples.map(sampleName).mkString(",")} $chr:$lo-$hi: " +
          s"${got.length} rows, want ${want.length}", rows.length, rows.map(rowBytes).sum)
      })
    case 1 => bamQuery(c, "reads", rng, i, c.collect)
    case 2 =>
      val (chr, lo, hi) = region(rng, i, FastaContigs, FastaLen, None)
      val path = new File(c.inputs, "fasta/ref.fa").getAbsolutePath
      Op(2, () => {
        val rows = c.collect(c.spark.sql(s"SELECT id, sequence FROM fasta_indexed_scan('$path', '$chr:$lo-$hi')"))
        val r = FastaContigs.indexOf(chr)
        val ok = rows.length == 1 && {
          val got = rows(0).getString(1)
          got.length == hi - lo + 1 && got.indices.forall(i => got.charAt(i) == refBase(c.seed, r, lo - 1 + i))
        }
        Outcome.check(ok, s"fasta $chr:$lo-$hi: ${rows.length} rows", rows.length, rows.map(rowBytes).sum)
      })
  }

  private def bamQuery(c: Ctx, table: String, rng: SplittableRandom, i: Int,
                       collect: DataFrame => Array[Row]): Op = {
    val (chr, lo, hi) = region(rng, i, BamContigs, BamLen, Some("chr3"))
    Op(1, () => {
      val rows = collect(c.spark.sql(
        s"SELECT name, flag, start, end, sequence FROM $table WHERE bam_region_filter('$chr:$lo-$hi', reference, start, end)"))
      val ps = bamTruth.find(_.name == chr).get.pos
      val want = ps.slice(Contigs.lowerBound(ps, lo - Gen.ReadLen + 1), Contigs.lowerBound(ps, hi + 1))
      val got = rows.map(_.getLong(2))
      Outcome.check(got.sorted.sameElements(want.map(_.toLong)),
        s"$table $chr:$lo-$hi: ${got.length} rows, want ${want.length}", rows.length, rows.map(rowBytes).sum)
    })
  }

  /** Region reads of the BAM through graft's S3 client (`S3HttpFileSystem`,
    * SigV4-signed ranged GETs) against an in-process MiniS3: the `s3`
    * layer's measure. Few queries, each checked and given `S3TimeoutS`:
    * one that does not return in time is a failed check, and the probe
    * stops there. Returns the queries' median ms. */
  private def s3Probe(c: Ctx): Double = {
    val mini = new graft.tools.MiniS3().withAuth("perfbench-access", "perfbench-secret").start()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-s3"); t.setDaemon(true); t
    }
    try {
      Seq("reads.bam", "reads.bam.bai").foreach { f =>
        mini.put("perfbench", f, java.nio.file.Files.readAllBytes(new File(c.inputs, s"bam/$f").toPath))
      }
      val hc = c.spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3.impl", classOf[graft.sources.s3.S3HttpFileSystem].getName)
      hc.set("fs.s3.endpoint", mini.endpoint)
      hc.set("fs.s3.impl.disable.cache", "true")
      hc.set("fs.s3.access.key", "perfbench-access")
      hc.set("fs.s3.secret.key", "perfbench-secret")
      c.spark.sql("CREATE TABLE s3reads USING bam LOCATION 's3://perfbench/reads.bam'")
      val rng = new SplittableRandom(c.seed + 7)
      val ms = mutable.ArrayBuffer[Double]()
      var i = 0
      var hung = false
      while (i < S3Queries && !hung) {
        // The region sequence of the bam_bai op type, empty contig included.
        val op = bamQuery(c, "s3reads", rng, i * kinds.length + 1, _.collect())
        val group = s"perfbench-s3-$i"
        val f = pool.submit { () =>
          c.spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
          val t0 = System.nanoTime()
          val o = op.run()
          (o, (System.nanoTime() - t0) / 1e6)
        }
        val o = try {
          // The span is the main thread's wait: the tracer is single-threaded.
          val (o, t) = c.tracer.span("s3.region")(
            f.get((S3TimeoutS * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS))
          if (o.ok) ms += t
          o
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            hung = true
            c.spark.sparkContext.cancelJobGroup(group)
            f.cancel(true)
            Outcome(ok = false, s"no answer within $S3TimeoutS s")
          case e: java.util.concurrent.ExecutionException =>
            Outcome(ok = false, s"${e.getCause.getClass.getSimpleName}: ${e.getCause.getMessage}")
        }
        c.probeCheck(s"region.bam_s3 query $i", o)
        i += 1
      }
      if (ms.isEmpty) 0.0 else Stats.median(ms.toSeq)
    } finally {
      mini.stop()
      pool.shutdownNow()
    }
  }

  override def probes(c: Ctx): Seq[(String, Double)] = {
    val s3 = s3Probe(c)
    c.spark.sql(s"CREATE TABLE ref USING fasta LOCATION '${new File(c.inputs, "fasta/ref.fa").getAbsolutePath}'")
    Seq(
      "decode.k1" -> Probes.decodeMbS(c, "cohort", Seq("chrom", "pos", "ref", "alt", "qual", "info")),
      "decode.k2" -> Probes.decodeMbS(c, "reads", Seq("name", "flag", "start", "end", "sequence")),
      "decode.k3" -> Probes.decodeMbS(c, "ref", Seq("id", "sequence")),
      "decode.k4" -> Probes.decodeMbS(c, "cohort", Seq("sample", "chrom", "pos", "ref", "alt", "qual", "info")),
      "s3.region_p50_ms" -> s3)
  }
}
