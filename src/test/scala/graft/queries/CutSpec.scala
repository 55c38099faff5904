package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import scala.jdk.CollectionConverters._

/** The engine's one lineage cut ([[Cut.cut]]): every query that reaches it
  * returns the same rows in local mode and in reliable mode
  * (`spark.graft.checkpointDir` set), and reliable mode really writes its
  * cuts; no second cut definition exists in `src/main`.
  */
class CutSpec extends AnyFunSuite with SharedSpark {
  private val d = "/root/testdata/sf0.001"

  /** Every entry whose plan passes through a cut, directly or via a shared
    * helper (pair generation, CC, BPE, PQ, image/audio hashes).
    */
  private val cutQueries = Seq(
    "l03_ngram_jaccard_pairs", "l14_dup_clusters", "l18_curation_funnel",
    "l21_dup_clusters_star", "l25_semantic_dedup", "l30_dup_clusters_ckpt",
    "l33_leakage_free_split", "l35_pq_encode", "l36_pq_adc_search",
    "l38_bpe_merges", "l39_bpe_encode", "l40_tokenizer_maxmatch",
    "l43_tokenize_pack", "l46_source_overlap", "l50_longest_dup_span",
    "l52_label_propagation", "l54_token_decontamination", "l59_copy_lineage",
    "l61_cluster_canonical", "l62_copy_pagerank", "l67_image_neardup",
    "l68_image_dedup_keep", "l70_audio_neardup", "l71_jpeg_invariant_neardup",
    "l73_audio_dedup_keep", "l76_bloom_decontamination", "l79_kmeans_train",
    "q64_part_cooccurrence", "f36_gff_write_indexed",
    "s09_stream_decontamination")

  /** f36 re-writes a reference fixture instead of reading the sf dir. */
  private val gffFixture =
    "/root/reference/exon/exon-core/test-data/datasources/gff-index"

  private def rows(q: String): Seq[String] =
    graft.SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSeq.sorted

  cutQueries.foreach { q =>
    test(s"reliable mode matches local mode: $q") {
      if (q == "f36_gff_write_indexed")
        assume(new java.io.File(gffFixture).exists(), s"$gffFixture not present")
      val local = rows(q)
      val dir = graft.TestTmp.dir(s"graft_cut_$q")
      spark.conf.set("spark.graft.checkpointDir", dir.toString)
      val reliable = try rows(q)
        finally spark.conf.unset("spark.graft.checkpointDir")
      assert(reliable == local)
      val cuts = java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("cut_"))
      assert(cuts > 0, s"$q wrote no cut under $dir")
    }
  }

  test("source guard: the cut definition is the only checkpoint call in src/main") {
    val main = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(main), "run from the repo root")
    val call = "localCheckpoint\\(|\\.checkpoint\\(|setCheckpointDir".r
    val hits = java.nio.file.Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).nonEmpty => s"$p:${i + 1}"
        }
      }
    val definition = "src/main/scala/graft/queries/package.scala"
    assert(hits.size == 1 && hits.head.startsWith(definition + ":"),
      s"checkpoint calls outside the one cut ($definition):\n" +
        hits.mkString("\n"))
  }
}
