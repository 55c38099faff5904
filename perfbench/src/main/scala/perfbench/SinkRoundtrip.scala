package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

final case class Tag(tag: String, value: String)

/** One generated read, in the column order of graft's BAM schema, plus its
  * FASTQ quality string. */
final case class ReadRow(name: String, flag: Int, reference: String, start: Long, end: Long,
                         mapping_quality: String, cigar: String, mate_reference: String,
                         sequence: String, quality_score: Seq[Long], tags: Seq[Tag],
                         quality_scores: String)

/** One generated site, in the column order of graft's VCF schema. */
final case class SiteRow(chrom: String, pos: Long, id: Seq[String], ref: String, alt: Seq[String],
                         qual: Float, filter: Seq[String], info: String, formats: String)

/** Seeded input frames, generated inside the session (not by graft's
  * sinks). Kept in an object so the row closures capture nothing. */
object SinkFrames {
  val RefLen = 10000000

  def reads(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val half = n / 2
    spark.range(n).as[Long].map { id =>
      val rng = new SplittableRandom(Gen.mix(seed * 0x9E3779B9L + id))
      val r = if (id < half) 0 else 1
      val start = 1 + (id % half) * (RefLen / half - Gen.ReadLen) + rng.nextInt(20)
      val seq = new String(Array.fill(Gen.ReadLen)("ACGT".charAt(rng.nextInt(4))))
      val q = Seq.fill(Gen.ReadLen)((2 + rng.nextInt(39)).toLong)
      ReadRow(f"s$id%09d", Gen.flag(seed, id), s"chr${r + 1}", start, start + Gen.ReadLen - 1, "60",
        s"${Gen.ReadLen}M", s"chr${r + 1}", seq, q, Seq(Tag("NM", rng.nextInt(5).toString)),
        new String(q.map(x => (x + 33).toChar).toArray))
    }.toDF()
  }

  def sites(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val perChrom = n / 4
    spark.range(n).as[Long].map { id =>
      val rng = new SplittableRandom(Gen.mix(seed * 0x51ED27L + id))
      val pos = 1 + (id % perChrom) * 200 + rng.nextInt(150)
      SiteRow(s"chr${id / perChrom + 1}", pos, null, "ACGT".substring(rng.nextInt(4)).take(1), Seq("T"),
        (10 + rng.nextInt(50)).toFloat, Seq("PASS"), s"DP=${1 + rng.nextInt(99)}", null)
    }.toDF()
  }

}

/** Seeded frames cached before timing, written through four sinks and read
  * back; each read-back digest must equal the frame's. */
final class SinkRoundtrip extends Workload {
  val kinds = Seq("sink.fastq_gz", "sink.vcf_bgzf", "sink.bam", "sink.cram")
  val Records = 20000
  val WarmRecords = 1000
  private val refs = s"chr1:${SinkFrames.RefLen},chr2:${SinkFrames.RefLen}"

  /** (format, write options, columns the sink preserves) per kind. */
  private val sinks = Seq(
    ("fastq", Map("compression" -> "gzip"), Seq("name", "sequence", "quality_scores")),
    ("vcf", Map("compression" -> "bgzf"), Seq("chrom", "pos", "ref", "alt", "qual", "info")),
    ("bam", Map("refs" -> refs), Seq("name", "flag", "reference", "start", "end", "cigar", "sequence", "quality_score")),
    ("cram", Map("refs" -> refs), Seq("name", "flag", "reference", "start", "end", "cigar", "sequence", "quality_score")))

  private var frames: Seq[DataFrame] = Nil
  private var want: Seq[(Long, Long)] = Nil // (rows, xor digest) per kind
  private var userBytes: Seq[Long] = Nil
  private val writeS = Array.fill(4)(mutable.ArrayBuffer[Double]())
  private val readS = Array.fill(4)(mutable.ArrayBuffer[Double]())
  private val stored = new Array[Long](4)

  def generate(dir: File, seed: Long): Unit = () // frames are generated in the session

  private def framesOf(spark: SparkSession, n: Int, seed: Long): Seq[DataFrame] = {
    val r = SinkFrames.reads(spark, n, seed)
    Seq(r.selectExpr("name", "CAST(NULL AS STRING) AS description", "sequence", "quality_scores"),
      SinkFrames.sites(spark, n, seed),
      r.drop("quality_scores"), r.drop("quality_scores"))
  }

  /** (rows, xor of row hashes) over the columns a sink preserves. */
  private def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.selectExpr("count(*)", s"bit_xor(xxhash64(${cols.mkString(", ")}))").collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def sorted(k: Int, df: DataFrame, parts: Int): DataFrame = k match {
    case 1 => df.repartitionByRange(parts, col("chrom"), col("pos")).sortWithinPartitions("chrom", "pos")
    case 2 | 3 => df.repartitionByRange(parts, col("reference"), col("start")).sortWithinPartitions("reference", "start")
    case _ => df
  }

  private def roundtrip(c: Ctx, k: Int, frame: DataFrame, dir: File, expect: (Long, Long), timed: Boolean): Outcome = {
    val (fmt, opts, cols) = sinks(k)
    val parts = c.spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    c.tracer.span(s"write.$fmt") {
      sorted(k, frame, parts).write.format(fmt).options(opts).mode("overwrite").save(dir.getAbsolutePath)
    }
    val t1 = System.nanoTime()
    val got = c.tracer.span(s"readback.$fmt") {
      val rb = c.spark.read.format(fmt).load(dir.getAbsolutePath)
      val r = c.collect(rb.selectExpr("count(*)", s"bit_xor(xxhash64(${cols.mkString(", ")}))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val t2 = System.nanoTime()
    if (timed) {
      writeS(k) += (t1 - t0) / 1e9; readS(k) += (t2 - t1) / 1e9
      stored(k) = dir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(_.length).sum
    }
    Outcome.check(got == expect, s"${kinds(k)}: read back (rows, digest) $got, wrote $expect",
      got._1, if (userBytes.isEmpty) 0L else 2 * userBytes(k))
  }

  def tables(c: Ctx): Unit = ()

  def warm(c: Ctx): Unit = {
    val fs = framesOf(c.spark, WarmRecords, c.seed + 1)
    fs.indices.foreach { k =>
      roundtrip(c, k, fs(k), new File(c.work, s"warm/$k"), digest(fs(k), sinks(k)._3), timed = false)
    }
  }

  override def prepare(c: Ctx): Unit = {
    frames = framesOf(c.spark, Records, c.seed).map(_.cache())
    prepareDigests()
  }

  private def prepareDigests(): Unit = {
    want = frames.indices.map(k => digest(frames(k), sinks(k)._3))
    userBytes = frames.indices.map { k =>
      val text = sinks(k)._3.map(n => s"CAST($n AS STRING)").mkString("concat_ws('\\t', ", ", ", ")")
      frames(k).selectExpr(s"sum(octet_length($text) + 1)").collect().head.getLong(0)
    }
  }

  /** The write layer measured from another workload's traced run: small
    * frames through the four sinks and back, each round trip checked. */
  def writeProbe(c: Ctx, records: Int): Seq[(String, Double)] = {
    frames = framesOf(c.spark, records, c.seed + 7).map(_.cache())
    prepareDigests()
    frames.indices.foreach { k =>
      c.probeCheck(kinds(k), roundtrip(c, k, frames(k), new File(c.work, s"write-probe/$k"), want(k), timed = true))
    }
    val out = facts(c).filter(_._1.startsWith("write."))
    frames.foreach(_.unpersist())
    out
  }

  def unit(c: Ctx, rng: SplittableRandom): Seq[Op] =
    kinds.indices.map(k => Op(k, () => roundtrip(c, k, frames(k), new File(c.work, s"sink/$k"), want(k), timed = true)))

  override def probes(c: Ctx): Seq[(String, Double)] = {
    sinks.indices.foreach { k =>
      c.spark.read.format(sinks(k)._1).load(new File(c.work, s"sink/$k").getAbsolutePath)
        .createOrReplaceTempView(s"readback_$k")
    }
    val decode = sinks.indices.map(k => s"decode.k${k + 1}" -> Probes.decodeMbS(c, s"readback_$k", sinks(k)._3))
    decode :+ ("decode.cram.mb_s" -> decode(3)._2)
  }

  override def facts(c: Ctx): Seq[(String, Double)] = {
    val mb = userBytes.map(_ / 1e6)
    val names = Seq("fastq_gz", "vcf_bgzf", "bam", "cram")
    val per = kinds.indices.flatMap { k =>
      Seq(s"write.${names(k)}.mb_s" -> mb(k) / Stats.median(writeS(k).toSeq),
        s"readback.${names(k)}.mb_s" -> mb(k) / Stats.median(readS(k).toSeq),
        s"write.${names(k)}.stored_ratio" -> stored(k).toDouble / userBytes(k))
    }
    per ++ Seq(
      "write_mb_s" -> mb.indices.map(k => mb(k) * writeS(k).length).sum / writeS.map(_.sum).sum,
      "readback_mb_s" -> mb.indices.map(k => mb(k) * readS(k).length).sum / readS.map(_.sum).sum,
      "stored_bytes_ratio" -> stored.sum.toDouble / userBytes.sum,
      "user_mb" -> mb.sum)
  }
}
