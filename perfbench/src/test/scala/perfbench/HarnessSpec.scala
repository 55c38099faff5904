package perfbench

import java.io.File
import java.nio.file.Files
import java.util.zip.Inflater

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a tail percentile needs at least ten samples beyond it") {
    val small = (1 to 180).map(_.toDouble)
    assert(Stats.beyond(small, 0.95) == 9)
    assert(Stats.tail(small, 0.95).isEmpty)
    val enough = (1 to 220).map(_.toDouble)
    assert(Stats.beyond(enough, 0.95) >= 10)
    assert(Stats.tail(enough, 0.95).contains(Stats.quantile(enough, 0.95)))
  }

  test("the highest reportable tail falls back with the sample count") {
    assert(Stats.highestTail((1 to 1000).map(_.toDouble)).map(_._1).contains(0.99))
    assert(Stats.highestTail((1 to 50).map(_.toDouble)).map(_._1).contains(0.75))
    assert(Stats.highestTail((1 to 15).map(_.toDouble)).isEmpty)
  }

  test("between-job gaps subtract the union of overlapping job intervals") {
    val jobs = Seq((10L, 30L), (20L, 50L), (70L, 80L))
    assert(Stats.unionLength(jobs) == 50)
    assert(Stats.gap(0, 100, jobs) == 50)
    // intervals reaching outside the op are clipped to it
    assert(Stats.gap(0, 100, jobs :+ ((90L, 130L))) == 40)
    assert(Stats.gap(0, 100, Seq((-20L, 5L))) == 95)
    assert(Stats.gap(0, 100, Nil) == 100)
  }
}

class TracerSpec extends AnyFunSuite {
  test("self time is duration minus the union of the direct children") {
    val spans = Seq(
      Span(0, -1, "op", 1, 0, 100),
      Span(1, 0, "spark.plan", 1, 10, 30),
      Span(2, 0, "spark.execute", 1, 20, 50), // overlaps its sibling
      Span(3, 2, "decode", 1, 25, 45), // grandchild: not subtracted from op
      Span(4, 0, "spark.execute", 1, 60, 70))
    val self = Tracer.selfMs(spans).map { case (k, v) => k -> v * 1e6 }
    assert(self("op") == 50)
    assert(self("spark.plan") == 20)
    assert(self("spark.execute") == (30 - 20) + 10)
    assert(self("decode") == 20)
  }

  test("nested spans record their parent and operation") {
    val t = new Tracer(true)
    t.op = 7
    t.span("op") { t.span("spark.plan")(()); t.span("spark.execute")(()) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("spark.plan").parent == byName("op").id)
    assert(byName("spark.execute").parent == byName("op").id)
    assert(byName("op").parent == -1)
    assert(t.spans.forall(_.op == 7))
    val off = new Tracer(false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }
}

/** The generator's files read back through their own framing and indexes. */
class GenSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** Inflate a whole BGZF file: (uncompressed bytes, block start addresses, block start offsets). */
  private def inflate(file: File): (Array[Byte], Array[Long], Array[Long]) = {
    val b = Files.readAllBytes(file.toPath)
    val out = new Bytes()
    val addrs = scala.collection.mutable.ArrayBuffer[Long]()
    val uoffs = scala.collection.mutable.ArrayBuffer[Long]()
    var p = 0
    while (p < b.length) {
      val bsize = ((b(p + 16) & 0xff) | ((b(p + 17) & 0xff) << 8)) + 1
      addrs += p; uoffs += out.len
      val inf = new Inflater(true)
      inf.setInput(b, p + 18, bsize - 26)
      val buf = new Array[Byte](65536)
      val n = inf.inflate(buf)
      inf.end()
      out.bytes(buf, 0, n)
      p += bsize
    }
    (out.toArray, addrs.toArray, uoffs.toArray)
  }

  private def uoffset(v: Long, addrs: Array[Long], uoffs: Array[Long]): Long = {
    val i = java.util.Arrays.binarySearch(addrs, v >>> 16)
    assert(i >= 0, s"virtual offset $v does not point at a block start")
    uoffs(i) + (v & 0xffff)
  }

  private def tmp(): File = Files.createTempDirectory("perfbench-gen").toFile

  test("BGZF virtual offsets address the right uncompressed bytes") {
    val data = new Bytes()
    val rng = new java.util.SplittableRandom(3)
    (0 until 300000).foreach(_ => data.u8('A' + rng.nextInt(4)))
    val z = Bgzf.compress(data)
    val f = new File(tmp(), "x.gz"); Gen.write(f, z.file)
    val (plain, addrs, uoffs) = inflate(f)
    assert(plain.sameElements(data.toArray))
    Seq(0L, 1L, Bgzf.BlockData - 1L, Bgzf.BlockData.toLong, 123456L, data.len - 1L).foreach { u =>
      assert(uoffset(z.voffset(u), addrs, uoffs) == u)
    }
  }

  test("tabix chunks of the generated VCF hold exactly the records in each region") {
    val dir = tmp()
    val contigs = Contigs.layout(new java.util.SplittableRandom(5), Seq("chr1", "chr2", "chr3"), 300000, 40, Set("chr3"))
    Gen.vcf(dir, "t.vcf.gz", contigs, 9)
    val idx = graft.sources.TabixIndex.read(new Path(new File(dir, "t.vcf.gz.tbi").getAbsolutePath), conf)
    val (plain, addrs, uoffs) = inflate(new File(dir, "t.vcf.gz"))
    val rng = new java.util.SplittableRandom(11)
    (0 until 40).foreach { _ =>
      val c = contigs(rng.nextInt(3))
      val lo = 1 + rng.nextInt(290000); val hi = lo + rng.nextInt(9000)
      val found = idx.query(c.name, lo - 1, hi).flatMap { case (vs, ve) =>
        val text = new String(plain.slice(uoffset(vs, addrs, uoffs).toInt, uoffset(ve, addrs, uoffs).toInt), "US-ASCII")
        text.split("\n").filter(_.nonEmpty).map(_.split("\t")).filter(_(0) == c.name).map(_(1).toInt)
      }.filter(p => p >= lo && p <= hi).distinct.sorted
      val want = c.pos.filter(p => p >= lo && p <= hi).toSeq
      assert(found == want, s"${c.name}:$lo-$hi")
    }
  }

  test("bai chunks of the generated BAM hold exactly the reads overlapping each region") {
    val dir = tmp()
    val contigs = Contigs.layout(new java.util.SplittableRandom(6), Seq("chr1", "chr2"), 400000, 60, margin = Gen.ReadLen)
    val bam = new File(dir, "r.bam")
    Gen.bam(bam, contigs, 13)
    val idx = graft.sources.BaiIndex.forBam(new Path(bam.getAbsolutePath), conf).get
    val (plain, addrs, uoffs) = inflate(bam)
    def i32(at: Int) = (plain(at) & 0xff) | ((plain(at + 1) & 0xff) << 8) | ((plain(at + 2) & 0xff) << 16) | ((plain(at + 3) & 0xff) << 24)
    val rng = new java.util.SplittableRandom(17)
    (0 until 40).foreach { _ =>
      val r = rng.nextInt(2); val c = contigs(r)
      val lo = 1 + rng.nextInt(390000); val hi = lo + rng.nextInt(9000)
      val found = idx.query(c.name, lo - 1, hi).flatMap { case (vs, ve) =>
        var p = uoffset(vs, addrs, uoffs).toInt; val end = uoffset(ve, addrs, uoffs).toInt
        val starts = scala.collection.mutable.ArrayBuffer[Int]()
        while (p < end) {
          if (i32(p + 4) == r) starts += i32(p + 8) + 1
          p += 4 + i32(p)
        }
        starts
      }.filter(s => s <= hi && s + Gen.ReadLen - 1 >= lo).distinct.sorted
      val want = c.pos.filter(s => s <= hi && s + Gen.ReadLen - 1 >= lo).toSeq
      assert(found == want, s"${c.name}:$lo-$hi")
    }
    // the metadata pseudo-bin carries the mapped count graft's count pushdown reads
    assert(graft.sources.BaiIndex.recordCount(new Path(bam.getAbsolutePath), conf)
      .contains(contigs.map(_.pos.length.toLong).sum))
  }

  test(".fai offsets point at the generated bases") {
    val dir = tmp()
    val f = new File(dir, "ref.fa")
    Gen.fasta(f, Seq("a", "b"), 1000, r => i => Layout.refBase(21, r, i))
    val bytes = Files.readAllBytes(f.toPath)
    scala.io.Source.fromFile(new File(dir, "ref.fa.fai")).getLines().zipWithIndex.foreach { case (line, r) =>
      val Array(_, len, off, lineBases, lineWidth) = line.split("\t")
      Seq(0, 59, 60, 61, 999).foreach { i =>
        val at = off.toLong + (i / lineBases.toInt) * lineWidth.toLong + i % lineBases.toInt
        assert(bytes(at.toInt) == Layout.refBase(21, r, i))
      }
      assert(len.toInt == 1000)
    }
  }

  test("document families are chains with the planned diameter") {
    val docs = Docs.generate(400, families = 10, chain = 4, seed = 1)
    val pairs = Docs.pairs(docs)
    assert(pairs.length == 10 * 3)
    assert(Docs.maxDiameter(pairs) == 3)
    assert(Docs.components(pairs).map(_._2).distinct.length == 10)
  }
}
