package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The near-duplicate loop queries of the l-pack, each forced through the
  * noop sink. No graft decoder runs: the time is jobs, shuffles and lineage
  * cuts. l50/l54 are left out: their oracle twins are pinned VALUES for the
  * fixed TESTDATA corpus and cannot check a seeded one. */
final class DedupLoops extends Workload {
  val kinds = Seq("loops.l14", "loops.l21", "loops.l30", "loops.l33")
  val queries = Seq("l14_dup_clusters", "l21_dup_clusters_star", "l30_dup_clusters_ckpt", "l33_leakage_free_split")
  val Documents = 300
  val Families = 20
  val Chain = 4
  /** The warm-up corpus: same code paths, one CC round. */
  val WarmDocuments = 60
  val WarmFamilies = 3
  val WarmChain = 2
  /** run.py checks the generator against the DuckDB twins on this corpus,
    * once per seed: the timed corpus's structure at a size the twins'
    * recursive CTEs finish in seconds. */
  val OracleDocuments = 80
  val OracleFamilies = 4
  private var expected: Map[String, String] = Map.empty

  /** Writes documents.jsonl (run.py converts it to documents.parquet with
    * DuckDB), the expected digest of each query, and each query's DuckDB
    * oracle twin for run.py's once-per-seed oracle check. */
  def generate(dir: File, seed: Long): Unit = {
    def corpus(sub: String, n: Int, families: Int, chain: Int, s: Long): Unit = Layout.once(new File(dir, sub)) {
      val docs = Docs.generate(n, families, chain, s)
      val w = new java.io.PrintWriter(new File(dir, s"$sub/documents.jsonl"), "UTF-8")
      try docs.foreach { d =>
        w.println(s"""{"doc_id": ${d.id}, "text": "${d.text}", "lang": "${d.lang}", "source": "${d.source}", "n_chars": ${d.nChars}}""")
      } finally w.close()
      val exp = Docs.expected(docs)
      java.nio.file.Files.writeString(new File(dir, s"$sub/expected.tsv").toPath,
        queries.map(q => s"$q\t${Docs.digest(exp(q))}\t${exp(q).length}\n").mkString +
          s"max_diameter\t${Docs.maxDiameter(Docs.pairs(docs))}\t0\n" +
          s"text_bytes\t${docs.map(_.nChars).sum}\t0\n")
      val oracles = graft.SparkEntry.oracleSql
      queries.foreach { q =>
        java.nio.file.Files.writeString(new File(dir, s"$sub/$q.oracle.sql").toPath, oracles(q))
      }
    }
    corpus("docs", Documents, Families, Chain, seed)
    corpus("warmdocs", WarmDocuments, WarmFamilies, WarmChain, seed + 1)
    corpus("oracledocs", OracleDocuments, OracleFamilies, Chain, seed + 2)
  }

  def tables(c: Ctx): Unit =
    if (expected.isEmpty) {
      expected = scala.io.Source.fromFile(new File(c.inputs, "docs/expected.tsv")).getLines()
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    }

  /** Rows in column-name order, rendered as strings, for the digest. */
  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq
      .map(r => r.toSeq.map(v => if (v == null) "NULL" else v.toString))

  private def loop(c: Ctx, k: Int, dir: String): Op = {
    var df: DataFrame = null
    Op(k, () => {
      df = graft.SparkEntry.queries(queries(k))(c.spark, dir)
      c.noop(df)
      Outcome(ok = true)
    }, check = Some(() => {
      val d = Docs.digest(rows(df))
      Outcome.check(d == expected(queries(k)), s"${queries(k)}: digest $d, want ${expected(queries(k))}")
    }))
  }

  private def warmDir(c: Ctx) = new File(c.inputs, "warmdocs").getAbsolutePath

  /** The set-up's warm-up pass: l14 on the small corpus. */
  def warm(c: Ctx): Unit = loop(c, 0, warmDir(c)).run()

  /** One untimed pass over the timed corpus: a single timed pass is a large
    * share of a run, and its first run would also pay for plan shapes and
    * JIT compilation the small corpus does not reach. */
  override def prepare(c: Ctx): Unit =
    kinds.indices.foreach(k => loop(c, k, new File(c.inputs, "docs").getAbsolutePath).run())

  def unit(c: Ctx, rng: SplittableRandom): Seq[Op] =
    kinds.indices.map(k => loop(c, k, new File(c.inputs, "docs").getAbsolutePath))

  /** Document text MB one pass processes (four queries over the corpus). */
  override def unitMb(outs: Seq[Outcome]): Double = expected("text_bytes").toDouble / 1e6

  override def facts(c: Ctx): Seq[(String, Double)] =
    scala.io.Source.fromFile(new File(c.inputs, "docs/expected.tsv")).getLines().map(_.split("\t")).toSeq
      .map(a => if (queries.contains(a(0))) s"docs.${a(0)}.rows" -> a(2).toDouble else s"docs.${a(0)}" -> a(1).toDouble)
}
