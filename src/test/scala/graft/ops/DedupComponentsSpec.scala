package graft.ops

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** reference union-find for cross-checking */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("connected components: chain, clique, singletons-in-pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L), (20L, 21L))
      .toDF("a_id", "b_id")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L && comps(4L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert(comps(20L) == 20L && comps(21L) == 20L)
  }

  test("connected components match union-find on random graphs") {
    val rnd = new Random(42)
    val n = 60
    val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val want = unionFind(n, edges)
    val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"), maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // compare only nodes that appear in edges (components drops isolated nodes)
    val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    inEdges.foreach { v => assert(got(v) == want(v), s"node $v: got ${got(v)} want ${want(v)}") }
  }

  test("a held connectedComponents result survives a later call") {
    val a = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val b = Seq((20L, 21L), (21L, 22L)).toDF("a_id", "b_id")
    val alone = Dedup.connectedComponents(a).collect().toSet
    val cc1 = Dedup.connectedComponents(a)
    Dedup.connectedComponents(b)
    assert(cc1.collect().toSet == alone)
  }

  test("connectedComponents arms through Par.pinBoth == sequential calls") {
    val a = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val b = Seq((5L, 6L), (6L, 7L), (30L, 31L), (31L, 30L)).toDF("a_id", "b_id")
    val sequential = (Dedup.connectedComponents(a).collect().toSet,
      Dedup.connectedComponents(b).collect().toSet)
    val (pa, pb) = Par.pinBoth(Dedup.connectedComponents(a), Dedup.connectedComponents(b))
    assert((pa.collect().toSet, pb.collect().toSet) == sequential)
  }

  test("mergeComponents(incremental) == full recompute, on random graphs") {
    val rnd = new Random(20260813)
    val n = 60
    val all = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val (batch1, batch2) = all.splitAt(all.size / 2)
    // existing assignment covers ALL ids 0..n-1 (untouched ids as
    // self-assigned singletons, the leakageSafeSplit materialization)
    val cc1 = Dedup.connectedComponents(batch1.toDF("a_id", "b_id"))
    val ids = (0L until n.toLong).toDF("id")
    val existing = ids.join(cc1, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    val merged = Dedup.mergeComponents(existing, batch2.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: union-find over the full pair history + singletons
    val want = unionFind(n, all)
    (0L until n.toLong).foreach { id =>
      assert(merged(id) == want(id),
        s"id $id: incremental ${merged(id)} vs full ${want(id)}")
    }
    // bridging case: two batch-1 clusters united by one batch-2 edge
    val existing2 = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (5L, 5L))
      .toDF("id", "component")
    val merged2 = Dedup.mergeComponents(existing2, Seq((2L, 10L)).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged2 == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 5L -> 5L),
      merged2.toString)
  }

  test("cluster-size histogram flags a planted giant component") {
    // 100 docs; ids 1..50 chained into one giant component, 60/61 a twin
    // pair, the rest singletons — the histogram must make the giant
    // visible as max(cluster_size) and count singletons as size 1
    val docs = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (1L until 50L).map(i => (i, i + 1))
    val pairs = (chain :+ (60L, 61L)).toDF("a_id", "b_id")
    val hist = Dedup.clusterSizeHistogram(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(50L -> 1L, 2L -> 1L, 1L -> 48L), hist.toString)
    val giant = hist.keys.max
    assert(giant == 50L, s"planted giant component must dominate: $giant")
  }

  test("applyDedup keeps one representative per near-dup cluster") {
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (10L, "b"), (42L, "unique"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val kept = Dedup.applyDedup(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 42L))
  }

  test("cross-corpus dedup: batch twins found, novel docs kept, no within-side pairs") {
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    // per-(seed, position) MIXED hash: both a linear-rotation generator and
    // String.hashCode (linear in the last char) make every sentence a
    // shifted copy of one periodic sequence — identical shingle sets that
    // silently defeat the novel-doc assertions
    def sentence(seed: Int, n: Int = 30): String =
      (0 until n).map(i =>
        vocab(math.floorMod(
          scala.util.hashing.MurmurHash3.stringHash(seed + "#" + i),
          vocab.length))).mkString(" ")
    val corpus = (0L until 20L).map(i => (i, sentence(i.toInt))).toDF("doc_id", "text")
    // batch: near-dup copies of corpus docs 0-9 + 5 genuinely novel docs
    val batch = ((0L until 10L).map(i => (1000L + i, sentence(i.toInt) + " xq")) ++
      (0L until 5L).map(i => (2000L + i, sentence(100 + i.toInt))))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairsBetween(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach(i => assert(pairs.contains((i, 1000L + i)),
      s"twin ($i, ${1000 + i}) not found"))
    // pair orientation is always corpus->probe; ids never pair within a side
    pairs.foreach { case (c, p) => assert(c < 1000L && p >= 1000L) }
    // novel docs never pair (different seeds -> different shingle sets)
    assert(pairs.forall(_._2 < 2000L))

    val kept = Dedup.dedupAgainstCorpus(corpus, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 5L).map(2000L + _).toSet,
      s"kept should be exactly the novel docs, got $kept")
  }

  test("pdfTextCleanup strips form feeds, newlines, accents, non-ascii") {
    val got = Seq("page one\u000cpage two\nwith Crème brûlée — ok")
      .toDF("t").select(graft.functions.pdfTextCleanup(col("t"))).head.getString(0)
    assert(got == "page one page two with Creme brulee  ok")
  }
}
