package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkTestBase

/** Iterative kernels release every round they pin ([[Pin.release]]):
  * once a call returns, the only block set it leaves in the
  * BlockManager is the one behind its returned frame. `Dataset.unpersist`
  * cannot do this job — a local checkpoint never enters the
  * CacheManager, so it frees nothing. */
class PinReleaseSpec extends SparkTestBase {
  import spark.implicits._

  /** Block sets a call adds to the BlockManager. */
  private def added[A](body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, (sc.getPersistentRDDs.keySet -- before).toSet)
  }

  private def pinnedUnder(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet

  test("kernels leave no block set behind but their returned frame") {
    val vecs = (1L to 40L).map(i => (i, Seq((i * 7 % 13).toDouble, (i % 5).toDouble)))
      .toDF("vec_id", "embedding")
    val (_, kCenter) = added(
      Similarity.kCenterGreedy(vecs, "vec_id", "embedding", k = 6, scanBatch = 1))
    assert(kCenter.isEmpty, s"kCenterGreedy left $kCenter")

    val docs = (1L to 30L).map(i => (i, s"ababab cdcd item$i")).toDF("doc_id", "text")
    val (_, vocab) = added(Unigram.learnVocab(docs, "text",
      seedSize = 100, targetSize = 20, emRounds = 2, maxPieceLen = 6))
    assert(vocab.isEmpty, s"learnVocab left $vocab")

    val (_, bpe) = added(Bpe.learnMerges(docs, "text", merges = 4))
    assert(bpe.isEmpty, s"learnMerges left $bpe")

    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val (cc, ccLeft) = added(Dedup.connectedComponents(pairs))
    assert(ccLeft == pinnedUnder(cc) && ccLeft.size == 1,
      s"connectedComponents left $ccLeft; its result reads ${pinnedUnder(cc)}")

    intercept[IllegalArgumentException](Pin.release(cc))
  }

  test("a pin whose frame throws while it materializes leaves no block set behind") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    // two partitions: the empty one can complete and store its block
    // before the other one throws
    val frame = spark.range(0, 10, 1, 2).select(col("id"),
      when(col("id") >= 0, raise_error(lit("planted pin failure"))).as("boom"))
      .filter(col("id") >= 5)
    val (thrown, left) = added(scala.util.Try(Pin.pin(frame)))
    assert(thrown.isFailure)
    assert(left.isEmpty, s"the failed pin left $left")
  }
}
