package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable.ArrayBuffer

/** Growable little-endian byte buffer: every generated file is serialized
  * into one of these first, then BGZF-framed or written as is. */
final class Bytes(init: Int = 1 << 16) {
  var buf = new Array[Byte](init)
  var len = 0
  private def ensure(n: Int): Unit =
    if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
  def u8(v: Int): Unit = { ensure(1); buf(len) = v.toByte; len += 1 }
  def u16(v: Int): Unit = { u8(v); u8(v >>> 8) }
  def i32(v: Int): Unit = { ensure(4); var i = 0; while (i < 4) { buf(len + i) = (v >>> (8 * i)).toByte; i += 1 }; len += 4 }
  def i64(v: Long): Unit = { ensure(8); var i = 0; while (i < 8) { buf(len + i) = (v >>> (8 * i)).toByte; i += 1 }; len += 8 }
  def bytes(b: Array[Byte]): Unit = bytes(b, 0, b.length)
  def bytes(b: Array[Byte], off: Int, n: Int): Unit = { ensure(n); System.arraycopy(b, off, buf, len, n); len += n }
  def ascii(s: String): Unit = bytes(s.getBytes(US_ASCII))
  def patchI32(at: Int, v: Int): Unit = { var i = 0; while (i < 4) { buf(at + i) = (v >>> (8 * i)).toByte; i += 1 } }
  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

/** BGZF framing (SAMv1 spec §4.1), written here rather than through graft's
  * own BgzfWriter so a change to graft's sinks cannot change what the read
  * workloads read. Blocks are deflated in parallel; virtual offsets are
  * derived afterwards from uncompressed offsets and the block addresses. */
final class Bgzf private (val file: Array[Byte], blockAddr: Array[Long]) {
  /** Virtual offset of uncompressed byte `u` (u == length maps to the EOF block). */
  def voffset(u: Long): Long = {
    val b = (u / Bgzf.BlockData).toInt
    (blockAddr(b) << 16) | (u % Bgzf.BlockData)
  }
}

object Bgzf {
  val BlockData = 0xff00
  private val Eof: Array[Byte] = Array(0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff, 0x06, 0,
    0x42, 0x43, 0x02, 0, 0x1b, 0, 0x03, 0, 0, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)

  def compress(data: Bytes, level: Int = 6): Bgzf = {
    val nBlocks = (data.len + BlockData - 1) / BlockData
    val blocks = new Array[Array[Byte]](nBlocks)
    java.util.stream.IntStream.range(0, nBlocks).parallel().forEach { b =>
      val off = b * BlockData
      blocks(b) = block(data.buf, off, math.min(BlockData, data.len - off), level)
    }
    val addr = new Array[Long](nBlocks + 1)
    var total = 0L
    var b = 0
    while (b < nBlocks) { addr(b) = total; total += blocks(b).length; b += 1 }
    addr(nBlocks) = total
    val out = new Array[Byte]((total + Eof.length).toInt)
    b = 0
    while (b < nBlocks) { System.arraycopy(blocks(b), 0, out, addr(b).toInt, blocks(b).length); b += 1 }
    System.arraycopy(Eof, 0, out, total.toInt, Eof.length)
    new Bgzf(out, addr)
  }

  private def block(src: Array[Byte], off: Int, n: Int, level: Int): Array[Byte] = {
    val d = new Deflater(level, true)
    val cbuf = new Array[Byte](n + 1024)
    d.setInput(src, off, n); d.finish()
    var clen = 0
    while (!d.finished()) clen += d.deflate(cbuf, clen, cbuf.length - clen)
    d.end()
    val crc = new CRC32(); crc.update(src, off, n)
    val size = 18 + clen + 8
    require(size <= 65536, s"BGZF block too large: $size")
    val o = new Bytes(size)
    Seq(0x1f, 0x8b, 8, 4, 0, 0, 0, 0, 0, 0xff).foreach(o.u8)
    o.u16(6); o.u8('B'); o.u8('C'); o.u16(2); o.u16(size - 1)
    o.bytes(cbuf, 0, clen)
    o.i32(crc.getValue.toInt); o.i32(n)
    o.toArray
  }
}

/** UCSC-binned index (tabix / BAI layout, min_shift 14, depth 5) built from
  * the records as they are written. Chunks hold UNCOMPRESSED offsets until
  * `write` maps them to virtual offsets through the BGZF block table. */
final class BinIndex(nRef: Int) {
  private val bins = Array.fill(nRef)(scala.collection.mutable.LinkedHashMap[Int, ArrayBuffer[Long]]())
  private val linear = Array.fill(nRef)(ArrayBuffer[Long]())
  private val span = Array.fill(nRef)(Array(Long.MaxValue, 0L))
  private val mapped = new Array[Long](nRef)

  /** A record covering 0-based half-open [beg, end) at uncompressed [ubeg, uend). */
  def add(ref: Int, beg: Int, end: Int, ubeg: Long, uend: Long): Unit = {
    val chunks = bins(ref).getOrElseUpdate(BinIndex.reg2bin(beg, end), ArrayBuffer[Long]())
    if (chunks.nonEmpty && chunks.last == ubeg) chunks(chunks.length - 1) = uend
    else { chunks += ubeg; chunks += uend }
    val lin = linear(ref)
    var w = beg >> 14
    while (w <= ((end - 1) >> 14)) {
      while (lin.length <= w) lin += -1L
      if (lin(w) < 0) lin(w) = ubeg
      w += 1
    }
    span(ref)(0) = math.min(span(ref)(0), ubeg); span(ref)(1) = math.max(span(ref)(1), uend)
    mapped(ref) += 1
  }

  /** Serialized per-reference body shared by .tbi and .bai; BAI adds the
    * 37450 metadata pseudo-bin graft reads for count pushdown. */
  def write(o: Bytes, z: Bgzf, pseudoBin: Boolean): Unit = {
    var r = 0
    while (r < nRef) {
      val bs = bins(r)
      o.i32(bs.size + (if (pseudoBin && mapped(r) > 0) 1 else 0))
      bs.foreach { case (bin, cs) =>
        o.i32(bin); o.i32(cs.length / 2)
        cs.foreach(u => o.i64(z.voffset(u)))
      }
      if (pseudoBin && mapped(r) > 0) {
        o.i32(BinIndex.PseudoBin); o.i32(2)
        o.i64(z.voffset(span(r)(0))); o.i64(z.voffset(span(r)(1)))
        o.i64(mapped(r)); o.i64(0L)
      }
      val lin = linear(r)
      o.i32(lin.length)
      var last = 0L
      lin.foreach { u => if (u >= 0) last = z.voffset(u); o.i64(last) }
      r += 1
    }
  }
}

object BinIndex {
  val PseudoBin = 37450

  /** SAMv1 §5.3 reg2bin over 0-based half-open [beg, end). */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }
}

/** One contig of a generated file: name, length, and sorted 1-based
  * record positions (the generator's own truth for region arithmetic). */
final case class Contig(name: String, length: Int, pos: Array[Int])

object Contigs {
  /** Sorted positions with mean spacing `gap`, drawn from `rng`. An empty
    * contig (no records) gives region queries some empty hits. */
  def layout(rng: SplittableRandom, names: Seq[String], length: Int, gap: Int,
             empty: Set[String] = Set.empty, margin: Int = 0): Seq[Contig] =
    names.map { n =>
      if (empty(n)) Contig(n, length, Array.emptyIntArray)
      else {
        val ps = ArrayBuffer[Int]()
        var p = 1 + rng.nextInt(gap)
        while (p <= length - margin) { ps += p; p += 1 + rng.nextInt(2 * gap - 1) }
        Contig(n, length, ps.toArray)
      }
    }

  /** First index with pos(i) >= v. */
  def lowerBound(a: Array[Int], v: Int): Int = {
    var l = 0; var h = a.length
    while (l < h) { val m = (l + h) >>> 1; if (a(m) < v) l = m + 1 else h = m }
    l
  }
}

/** File writers for every input format the benchmark reads. Record content
  * is a pure function of (seed, stream, index) so the benchmark can recompute
  * any aggregate the checks need without reading its files back. */
object Gen {
  private val Bases = "ACGT".getBytes(US_ASCII)

  def write(f: File, bytes: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new File(f.getPath + ".tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---------------------------------------------------------------- VCF
  /** Sites-only VCF: REF one base, integer QUAL = 10 + (pos % 50). */
  def qual(pos: Int): Int = 10 + pos % 50

  def vcf(dir: File, name: String, contigs: Seq[Contig], seed: Long, index: Boolean = true): Unit = {
    val rng = new SplittableRandom(seed)
    val t = new Bytes(1 << 20)
    t.ascii("##fileformat=VCFv4.2\n")
    contigs.foreach(c => t.ascii(s"##contig=<ID=${c.name},length=${c.length}>\n"))
    t.ascii("##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n")
    t.ascii("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
    val idx = new BinIndex(contigs.length)
    contigs.zipWithIndex.foreach { case (c, r) =>
      c.pos.foreach { p =>
        val u0 = t.len
        val ref = rng.nextInt(4)
        val alt = (ref + 1 + rng.nextInt(3)) % 4
        t.ascii(c.name); t.u8('\t'); t.ascii(p.toString); t.ascii("\t.\t")
        t.u8(Bases(ref)); t.u8('\t'); t.u8(Bases(alt)); t.u8('\t')
        t.ascii(qual(p).toString); t.ascii("\tPASS\tDP="); t.ascii((1 + rng.nextInt(99)).toString)
        t.u8('\n')
        idx.add(r, p - 1, p, u0, t.len)
      }
    }
    val z = Bgzf.compress(t)
    write(new File(dir, name), z.file)
    if (!index) return
    val ti = new Bytes()
    ti.ascii("TBI"); ti.u8(1); ti.i32(contigs.length)
    ti.i32(2); ti.i32(1); ti.i32(2); ti.i32(0); ti.i32('#'); ti.i32(0)
    val names = contigs.map(_.name + "\u0000").mkString.getBytes(US_ASCII)
    ti.i32(names.length); ti.bytes(names)
    idx.write(ti, z, pseudoBin = false)
    write(new File(dir, name + ".tbi"), Bgzf.compress(ti).file)
  }

  // ---------------------------------------------------------------- BAM
  val ReadLen = 100

  /** SAM flag of read `i`: paired reads, ~8% duplicates, ~1% QC fail. */
  def flag(seed: Long, i: Long): Int = {
    val h = mix(seed ^ (i * 0x9E3779B97F4A7C15L))
    var f = 0x1 | (if ((h & 1) == 0) 0x40 else 0x80)
    if (((h >>> 1) & 1) == 0) f |= 0x10
    if (((h >>> 2) & 7) != 0) f |= 0x2
    if (((h >>> 5) % 100) < 8) f |= 0x400
    if (((h >>> 12) % 100) == 0) f |= 0x200
    f
  }

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    (x ^ (x >>> 31)) & Long.MaxValue
  }

  def bam(file: File, contigs: Seq[Contig], seed: Long): Unit = {
    val rng = new SplittableRandom(seed)
    val t = new Bytes(1 << 22)
    val text = "@HD\tVN:1.6\tSO:coordinate\n" +
      contigs.map(c => s"@SQ\tSN:${c.name}\tLN:${c.length}\n").mkString
    t.ascii("BAM"); t.u8(1); t.i32(text.length); t.ascii(text); t.i32(contigs.length)
    contigs.foreach { c => t.i32(c.name.length + 1); t.ascii(c.name); t.u8(0); t.i32(c.length) }
    val idx = new BinIndex(contigs.length)
    val seq = new Array[Byte]((ReadLen + 1) / 2)
    val qual = new Array[Byte](ReadLen)
    var i = 0L
    contigs.zipWithIndex.foreach { case (c, r) =>
      c.pos.foreach { p =>
        val u0 = t.len
        val name = f"r$i%09d"
        val beg = p - 1
        t.i32(0) // block_size, patched below
        t.i32(r); t.i32(beg)
        t.u8(name.length + 1); t.u8(60); t.u16(BinIndex.reg2bin(beg, beg + ReadLen))
        t.u16(1); t.u16(flag(seed, i))
        t.i32(ReadLen); t.i32(r); t.i32(beg + 200); t.i32(300)
        t.ascii(name); t.u8(0)
        t.i32(ReadLen << 4) // 100M
        var k = 0
        while (k < seq.length) {
          val hi = 1 << rng.nextInt(4); val lo = 1 << rng.nextInt(4)
          seq(k) = ((hi << 4) | lo).toByte; k += 1
        }
        t.bytes(seq)
        k = 0
        while (k < ReadLen) { qual(k) = (2 + rng.nextInt(39)).toByte; k += 1 }
        t.bytes(qual)
        t.patchI32(u0, t.len - u0 - 4)
        idx.add(r, beg, beg + ReadLen, u0, t.len)
        i += 1
      }
    }
    val z = Bgzf.compress(t)
    write(file, z.file)
    val bi = new Bytes()
    bi.ascii("BAI"); bi.u8(1); bi.i32(contigs.length)
    idx.write(bi, z, pseudoBin = true)
    bi.i64(0L) // n_no_coor
    write(new File(file.getPath + ".bai"), bi.toArray)
  }

  // -------------------------------------------------------------- FASTA
  val FastaLine = 60

  /** FASTA with 60-column lines and its .fai; `base(r)(i)` is base i of contig r. */
  def fasta(file: File, names: Seq[String], length: Int, base: Int => Int => Byte): Unit = {
    val t = new Bytes(names.length * (length + length / FastaLine + 64))
    val fai = new StringBuilder
    names.zipWithIndex.foreach { case (n, r) =>
      t.ascii(s">$n\n")
      fai.append(s"$n\t$length\t${t.len}\t$FastaLine\t${FastaLine + 1}\n")
      val b = base(r)
      var i = 0
      while (i < length) {
        t.u8(b(i)); i += 1
        if (i % FastaLine == 0 || i == length) t.u8('\n')
      }
    }
    write(file, t.toArray)
    write(new File(file.getPath + ".fai"), fai.toString.getBytes(US_ASCII))
  }

  // -------------------------------------------------------------- FASTQ
  /** BGZF FASTQ; returns (total G+C bases, sum of first quality scores). */
  def fastq(file: File, n: Int, seed: Long): (Long, Long) = {
    val rng = new SplittableRandom(seed)
    val t = new Bytes(n * (2 * ReadLen + 40))
    var gc = 0L; var q1 = 0L
    var i = 0
    while (i < n) {
      t.ascii(f"@q$i%09d lane=1\n")
      var k = 0
      while (k < ReadLen) {
        val b = rng.nextInt(4); if (b == 1 || b == 2) gc += 1
        t.u8(Bases(b)); k += 1
      }
      t.ascii("\n+\n")
      k = 0
      while (k < ReadLen) {
        val q = 2 + rng.nextInt(39); if (k == 0) q1 += q
        t.u8(33 + q); k += 1
      }
      t.u8('\n')
      i += 1
    }
    write(file, Bgzf.compress(t).file)
    (gc, q1)
  }

  // --------------------------------------------------------------- mzML
  /** mzML with zlib-compressed 64-bit m/z and intensity arrays; returns
    * (total peaks, sum over spectra of the max intensity). Intensities are
    * whole numbers so both sums are exact in floating point. */
  def mzml(file: File, spectra: Int, seed: Long): (Long, Long) = {
    val rng = new SplittableRandom(seed)
    val t = new Bytes(1 << 22)
    t.ascii("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    t.ascii("<mzML xmlns=\"http://psi.hupo.org/ms/mzml\" version=\"1.1.0\">\n<run id=\"r\">\n")
    t.ascii(s"""<spectrumList count="$spectra">\n""")
    val b64 = java.util.Base64.getEncoder
    var peaks = 0L; var maxSum = 0L
    val bb = java.nio.ByteBuffer.allocate(8 * 4096).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def encode(v: Array[Double]): String = {
      bb.clear(); v.foreach(bb.putDouble)
      val d = new Deflater(6)
      d.setInput(bb.array(), 0, v.length * 8); d.finish()
      val out = new Array[Byte](v.length * 8 + 256)
      var n = 0
      while (!d.finished()) n += d.deflate(out, n, out.length - n)
      d.end()
      b64.encodeToString(java.util.Arrays.copyOf(out, n))
    }
    def array(kind: String, acc: String, v: Array[Double]): Unit = {
      val s = encode(v)
      t.ascii(s"""<binaryDataArray encodedLength="${s.length}">""")
      t.ascii("""<cvParam cvRef="MS" accession="MS:1000523" name="64-bit float"/>""")
      t.ascii("""<cvParam cvRef="MS" accession="MS:1000574" name="zlib compression"/>""")
      t.ascii(s"""<cvParam cvRef="MS" accession="$acc" name="$kind"/><binary>""")
      t.ascii(s); t.ascii("</binary></binaryDataArray>\n")
    }
    var i = 0
    while (i < spectra) {
      val n = 200 + rng.nextInt(1400)
      val mz = new Array[Double](n); val it = new Array[Double](n)
      var x = 100.0 + rng.nextDouble()
      var mx = 0L
      var k = 0
      while (k < n) {
        x += 0.001 + rng.nextDouble(); mz(k) = x
        val v = 1 + rng.nextInt(1 << 20); it(k) = v; if (v > mx) mx = v
        k += 1
      }
      peaks += n; maxSum += mx
      t.ascii(s"""<spectrum index="$i" id="scan=${i + 1}" defaultArrayLength="$n">\n""")
      t.ascii("""<cvParam cvRef="MS" accession="MS:1000511" name="ms level" value="1"/>""")
      t.ascii(s"""\n<binaryDataArrayList count="2">\n""")
      array("m/z array", "MS:1000514", mz)
      array("intensity array", "MS:1000515", it)
      t.ascii("</binaryDataArrayList>\n</spectrum>\n")
      i += 1
    }
    t.ascii("</spectrumList>\n</run>\n</mzML>\n")
    write(file, t.toArray)
    (peaks, maxSum)
  }
}
