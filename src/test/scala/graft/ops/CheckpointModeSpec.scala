package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.Row

/** Round-9 cluster-readiness gate: every iterative kernel pins lineage
  * through [[Pin]], so setting `spark.graft.checkpoint.dir` must (a)
  * route pinning through reliable `checkpoint()` — proven by rdd-*
  * checkpoint files appearing under the dir — and (b) change NOTHING
  * about the results, bit for bit. Covers the two kernel families the
  * round-8 verdict called out (PageRank's pinned-frame fixed point,
  * connectedComponents' pointer-jumping loop, whose per-round
  * `Pin.release` must be a harmless no-op in reliable mode) plus the
  * partition-id-sensitive rangePrefixSums construction. */
class CheckpointModeSpec extends SparkTestBase {
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (6L, 7L),
    (7L, 6L), (5L, 1L), (2L, 4L), (8L, 8L))
    .toDF("src", "dst")

  private def pairs = Seq(
    (1L, 2L), (2L, 3L), (10L, 11L), (12L, 13L), (11L, 12L), (20L, 21L))
    .toDF("a_id", "b_id")

  private def withReliable[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Pin.DirConf, dir)
    try body(dir)
    finally {
      spark.conf.unset(Pin.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("pageRank is bit-identical under reliable checkpointing and " +
    "actually writes checkpoint files") {
    // 17 iterations forces the every-8th-round lineage truncation path
    val local = collectSorted(Graph.pageRank(edges, "src", "dst", 17))
    val (reliable, files) = withReliable { dir =>
      val out = collectSorted(Graph.pageRank(edges, "src", "dst", 17))
      val found = java.nio.file.Files.walk(java.nio.file.Path.of(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      (out, found)
    }
    assert(reliable == local)
    assert(files > 0, "no rdd-* checkpoint data under the configured dir " +
      "— pinning did not route through reliable checkpoint()")
  }

  test("connectedComponents is bit-identical under reliable " +
    "checkpointing (BlockManager cleanup degrades to a no-op)") {
    val local = collectSorted(Dedup.connectedComponents(pairs))
    val reliable = withReliable { _ =>
      collectSorted(Dedup.connectedComponents(pairs))
    }
    assert(reliable == local)
    assert(local.map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
        12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("rangePrefixSums partition-id pinning survives the reliable mode") {
    // the pid <-> boundary pairing must come from ONE materialization in
    // either mode; a drift would break every order-statistics query
    val hist = (1 to 500).map(i => (i.toLong, i.toLong)).toDF("k", "w")
    val local = collectSorted(
      Stats.rangePrefixSums(hist, Seq("k"), Seq(("w", "cum")), numParts = 7)
        .select("k", "cum"))
    val reliable = withReliable { _ =>
      collectSorted(
        Stats.rangePrefixSums(hist, Seq("k"), Seq(("w", "cum")), numParts = 7)
          .select("k", "cum"))
    }
    assert(reliable == local)
    assert(local.map(r => r.getLong(1)).max == 500L * 501 / 2)
  }
}
