package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame

/** Full scans at session width over single unindexed compressed files,
  * each aggregated so the result is small and exactly checkable. */
final class ScanAggregate extends Workload {
  import Layout._

  val kinds = Seq("scan.fastq_qc", "scan.vcf_by_chrom", "scan.bam_flagstat", "scan.mzml_peaks")
  val FastqReads = 150000
  val VcfContigs = (1 to 8).map(i => s"chr$i")
  val VcfLen = 2000000
  val VcfGap = 50
  val Spectra = 1500
  /** Records per sink in the traced run's write-layer probe. */
  val WriteProbeRecords = 20000
  private def vcfLayout(seed: Long) = Contigs.layout(new SplittableRandom(seed * 17 + 3), VcfContigs, VcfLen, VcfGap)
  private val files = Seq("fastq/reads.fastq.gz", "vcf/variants.vcf.gz", "bam/reads.bam", "mzml/run.mzML")
  private var fileMb: Seq[Double] = Nil
  private var truth: Map[String, Seq[Long]] = Map.empty

  def generate(dir: File, seed: Long): Unit = {
    once(new File(dir, "fastq")) {
      val (gc, q1) = Gen.fastq(new File(dir, "fastq/reads.fastq.gz"), FastqReads, seed * 3 + 1)
      java.nio.file.Files.writeString(new File(dir, "fastq/truth.txt").toPath, s"$gc $q1")
    }
    once(new File(dir, "vcf")) {
      Gen.vcf(new File(dir, "vcf"), "variants.vcf.gz", vcfLayout(seed), seed * 5 + 2, index = false)
    }
    genBam(dir, seed)
    once(new File(dir, "mzml")) {
      val (peaks, maxSum) = Gen.mzml(new File(dir, "mzml/run.mzML"), Spectra, seed * 11 + 4)
      java.nio.file.Files.writeString(new File(dir, "mzml/truth.txt").toPath, s"$peaks $maxSum")
    }
  }

  private def truthFile(c: Ctx, f: String): Seq[Long] =
    java.nio.file.Files.readString(new File(c.inputs, f).toPath).trim.split(" ").map(_.toLong).toSeq

  def tables(c: Ctx): Unit = {
    val d = c.inputs.getAbsolutePath
    Seq("fq" -> ("fastq", files(0)), "variants" -> ("vcf", files(1)), "reads" -> ("bam", files(2)),
      "spectra" -> ("mzml", files(3))).foreach { case (t, (fmt, f)) =>
      c.spark.sql(s"CREATE TABLE $t USING $fmt LOCATION '$d/$f'")
    }
    if (truth.isEmpty) {
      fileMb = files.map(f => new File(c.inputs, f).length / 1e6)
      val vcf = vcfLayout(c.seed)
      val bamN = bam(c.seed).map(_.pos.length).sum
      val flags = (0 until bamN).map(i => Gen.flag(c.seed, i.toLong))
      def nFlag(bit: Int) = flags.count(f => (f & bit) != 0).toLong
      truth = Map(
        "fastq" -> (FastqReads.toLong +: truthFile(c, "fastq/truth.txt")),
        "vcf" -> vcf.flatMap(ct => Seq(ct.pos.length.toLong, ct.pos.map(p => Gen.qual(p).toLong).sum)),
        "bam" -> Seq(bamN.toLong, nFlag(0x400), nFlag(0x10), nFlag(0x2), nFlag(0x40), nFlag(0x200)),
        "mzml" -> (Spectra.toLong +: truthFile(c, "mzml/truth.txt")))
    }
  }

  private val sql = Seq(
    "SELECT count(*), sum(CAST(round(gc_content(sequence) * length(sequence)) AS BIGINT)), " +
      "sum(element_at(quality_scores_to_list(quality_scores), 1)) FROM fq",
    "SELECT chrom, count(*), sum(CAST(qual AS BIGINT)) FROM variants GROUP BY chrom ORDER BY chrom",
    "SELECT count(*), count_if(is_duplicate(flag)), count_if(is_reverse_complemented(flag)), " +
      "count_if(is_properly_aligned(flag)), count_if(is_first_segment(flag)), count_if(is_qc_fail(flag)) FROM reads",
    "SELECT count(*), sum(size(mz.mz)), sum(CAST(array_max(intensity.intensity) AS BIGINT)) FROM spectra")

  private def scan(c: Ctx, k: Int): Op = Op(k, () => {
    val rows = c.collect(c.spark.sql(sql(k)))
    val got: Seq[Long] =
      if (k == 1) rows.toSeq.flatMap(r => Seq(r.getLong(1), r.getLong(2)))
      else rows.head.toSeq.map(v => if (v == null) -1L else v.asInstanceOf[Number].longValue)
    val want = truth(Seq("fastq", "vcf", "bam", "mzml")(k))
    val records = if (k == 1) want.grouped(2).map(_.head).sum else want.head
    Outcome.check(got == want, s"${kinds(k)}: got ${got.mkString(",")} want ${want.mkString(",")}",
      records, (fileMb(k) * 1e6).toLong)
  })

  def warm(c: Ctx): Unit = kinds.indices.foreach(k => scan(c, k).run())

  /** Untimed, after the set-up: two more passes, so the first timed passes
    * do not pay for JIT compilation the set-up's one pass leaves undone. */
  override def prepare(c: Ctx): Unit = (1 to 2).foreach(_ => warm(c))

  def unit(c: Ctx, rng: SplittableRandom): Seq[Op] = kinds.indices.map(scan(c, _))

  /** UDF cost per row: the expression over a cached frame minus an
    * identity projection of the same frame, medians of three. */
  private def nsRow(c: Ctx, frame: DataFrame, expr: String, identity: String, rows: Long): Double = {
    def t(e: String): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); c.noop(frame.selectExpr(e)); (System.nanoTime() - t0).toDouble
    })
    c.tracer.span(s"udf.$expr") { (t(expr) - t(identity)) / rows }
  }

  override def probes(c: Ctx): Seq[(String, Double)] = {
    val decode = Seq(
      "decode.k1" -> Probes.decodeMbS(c, "fq", Seq("name", "sequence", "quality_scores")),
      "decode.k2" -> Probes.decodeMbS(c, "variants", Seq("chrom", "qual")),
      "decode.k3" -> Probes.decodeMbS(c, "reads", Seq("flag")),
      "decode.k4" -> Probes.decodeMbS(c, "spectra", Seq("mz", "intensity")))
    val fq = c.spark.table("fq").select("sequence", "quality_scores").cache()
    val nFq = fq.count()
    val fl = c.spark.table("reads").select("flag").cache()
    val nFl = fl.count()
    val udf = Seq(
      "udf.gc_content.ns_row" -> nsRow(c, fq, "gc_content(sequence)", "sequence", nFq),
      "udf.reverse_complement.ns_row" -> nsRow(c, fq, "reverse_complement(sequence)", "sequence", nFq),
      "udf.quality_scores_to_list.ns_row" ->
        nsRow(c, fq, "quality_scores_to_list(quality_scores)", "quality_scores", nFq),
      "udf.sam_flag.ns_row" -> nsRow(c, fl, "is_duplicate(flag)", "flag", nFl))
    fq.unpersist(); fl.unpersist()
    val named = Seq("decode.fastq_bgzf.mb_s", "decode.vcf_bgzf.mb_s", "decode.bam.mb_s", "decode.mzml.mb_s")
      .zip(decode).map { case (n, (_, v)) => n -> v }
    // Single-threaded seconds one pass spends decoding and in the UDFs: the
    // pass calls gc_content and quality_scores_to_list once per read and
    // five flag predicates per alignment (reverse_complement is not in it).
    val decodeS = decode.zip(fileMb).map { case ((_, rate), mb) => mb / rate }.sum
    val udfS = (udf(0)._2 * nFq + udf(2)._2 * nFq + udf(3)._2 * nFl * 5) / 1e9
    val write = new SinkRoundtrip().writeProbe(c, WriteProbeRecords)
    decode ++ named ++ udf ++ Seq("scan.decode_s" -> decodeS, "scan.udf_s" -> udfS) ++ write
  }

  override def facts(c: Ctx): Seq[(String, Double)] =
    kinds.indices.map(k => s"input.${kinds(k)}.mb" -> fileMb(k))
}
