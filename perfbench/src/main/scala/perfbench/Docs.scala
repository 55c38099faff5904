package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The dedup_loops corpus: background documents plus near-duplicate
  * families planted as edit chains. Each step of a chain substitutes a few
  * words, so neighbours clear the 0.5 Jaccard threshold of the l-pack's
  * 5-word shingles while documents two or more steps apart do not:
  * components have diameter > 2 and the connected-components loops need
  * several rounds (TESTDATA's sf0.1 corpus converges in two).
  *
  * The expected loop outputs are computed here exactly, over the same
  * shingle definition, so every timed pass can be checked without an
  * oracle run. */
final case class Doc(id: Long, text: String, lang: String, source: String) {
  def nChars: Long = text.length.toLong
}

object Docs {
  private val Vocab = 2000
  private val BaseWords = 60
  /** `families` chains of `chain` documents (diameter chain - 1) plus
    * background documents up to `n`. Each chain step
    * rewrites three words 20 apart (15 of 56 shingles change: neighbour
    * Jaccard 41/71 = 0.58) at offsets that rotate by step, so documents two
    * steps apart share 26 of 86 shingles (0.30) and never pair. The family
    * structure, and with it the number of CC rounds, is the same for every
    * seed; only the words vary. */
  def generate(n: Int, families: Int, chain: Int, seed: Long): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed)
    val vocab = Array.tabulate(Vocab) { i =>
      val r = new SplittableRandom(seed * 7919 + i)
      val len = 3 + r.nextInt(6)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    def words(k: Int): Array[String] = Array.fill(k)(vocab(rng.nextInt(Vocab)))
    val texts = mutable.ArrayBuffer[Array[String]]()
    (0 until families).foreach { _ =>
      var cur = words(BaseWords)
      (0 until chain).foreach { k =>
        texts += cur
        cur = cur.clone()
        Seq(3, 23, 43).foreach { p =>
          val i = p + 6 * (k % 3)
          var w = vocab(rng.nextInt(Vocab))
          while (w == cur(i)) w = vocab(rng.nextInt(Vocab))
          cur(i) = w
        }
      }
    }
    while (texts.length < n) texts += words(30 + rng.nextInt(60))
    // shuffle so families are not contiguous in doc_id order
    val order = (0 until n).toArray
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    (0 until n).map { id =>
      Doc(id.toLong, texts(order(id)).mkString(" "), if (id % 7 == 0) "de" else "en", s"src${id % 5}")
    }
  }

  /** Distinct 5-word shingles, as the l-pack and its DuckDB twin define them. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ")
    if (w.length < 5) Set.empty else (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString("_")).toSet
  }

  /** Pairs (a < b) whose Jaccard, rounded HALF_UP to 4 places, is >= 0.5. */
  def pairs(docs: IndexedSeq[Doc]): Seq[(Long, Long)] = {
    val sh = docs.map(d => shingles(d.text))
    val postings = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
    sh.zipWithIndex.foreach { case (s, i) => s.foreach(x => postings.getOrElseUpdate(x, mutable.ArrayBuffer()) += i) }
    val cand = mutable.HashSet[(Int, Int)]()
    postings.valuesIterator.foreach { ids =>
      var a = 0
      while (a < ids.length) { var b = a + 1; while (b < ids.length) { cand += ((ids(a), ids(b))); b += 1 }; a += 1 }
    }
    cand.toSeq.flatMap { case (a, b) =>
      val inter = sh(a).count(sh(b).contains)
      val union = sh(a).size + sh(b).size - inter
      val j = BigDecimal(inter.toDouble / union).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if (j >= BigDecimal(0.5)) Some((docs(a).id min docs(b).id, docs(a).id max docs(b).id)) else None
    }.sorted
  }

  /** (doc_id, cluster_id = min doc_id of its component) for every doc in a pair. */
  def components(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(x => (x, find(x)))
  }

  /** Longest shortest path inside any component (> 2 means > 2 CC rounds). */
  def maxDiameter(pairs: Seq[(Long, Long)]): Int = {
    val adj = mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer()) += b; adj.getOrElseUpdate(b, mutable.ArrayBuffer()) += a
    }
    adj.keys.map { s =>
      val dist = mutable.HashMap(s -> 0); val q = mutable.Queue(s)
      while (q.nonEmpty) { val x = q.dequeue(); adj(x).foreach(y => if (!dist.contains(y)) { dist(y) = dist(x) + 1; q += y }) }
      dist.values.max
    }.maxOption.getOrElse(0)
  }

  /** Expected rows of each timed loop query, as strings in column-name order. */
  def expected(docs: IndexedSeq[Doc]): Map[String, Seq[Seq[String]]] = {
    val cc = components(pairs(docs))
    val ccRows = cc.map { case (d, c) => Seq(c.toString, d.toString) } // cluster_id, doc_id
    val label = cc.toMap
    val perCluster = docs.groupBy(d => label.getOrElse(d.id, d.id))
    def part(c: Long): String = if ((c * 998244353L + 12345L) % 1000000007L % 10L < 2L) "test" else "train"
    val l33 = perCluster.toSeq.groupBy { case (c, _) => part(c) }.toSeq.sortBy(_._1).map { case (p, cs) =>
      // columns sorted by name: max_parts_per_cluster, n_clusters, n_docs, part, sum_chars
      Seq("1", cs.size.toString, cs.map(_._2.size).sum.toString, p, cs.flatMap(_._2).map(_.nChars).sum.toString)
    }
    Map("l14_dup_clusters" -> ccRows, "l21_dup_clusters_star" -> ccRows,
      "l30_dup_clusters_ckpt" -> ccRows, "l33_leakage_free_split" -> l33)
  }

  /** Order-independent digest of result rows (fields already in column-name order). */
  def digest(rows: Seq[Seq[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("\t")).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }
}
