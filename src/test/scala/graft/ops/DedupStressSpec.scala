package graft.ops

import org.apache.spark.sql.Row

import graft.SparkTestBase

/** Degenerate-band-key stress: templated boilerplate that survives exact
  * dedup can land a huge fraction of a corpus under ONE band key. The
  * bucket kernel must stay O(maxBucket) per aggregation buffer (bounded
  * heap, not collect_list-then-slice) and must surface the truncation as
  * an observable metric rather than silent recall loss. */
class DedupStressSpec extends SparkTestBase {
  import spark.implicits._

  /** The graft_lsh_buckets_* metric rows the captured executions
    * observed, in execution order. */
  private def lshRows(rec: QueryMetrics.Record): Seq[Row] =
    rec.executions.flatMap(_.qe.observedMetrics).collect {
      case (name, row) if name.startsWith("graft_lsh_buckets_") => row
    }

  /** First graft_lsh_buckets_* metric row whose over_cap_buckets is
    * positive. */
  private def overCap(rec: QueryMetrics.Record): Row = {
    val stats = lshRows(rec).find(_.getAs[Long]("over_cap_buckets") > 0)
    assert(stats.isDefined, "no over-cap graft_lsh_buckets_* metric arrived")
    stats.get
  }

  test("100k identical docs under one band key: bounded buffers, observable truncation") {
    // identical text => identical simhash => every doc shares all 4 band keys
    val docs = spark.range(100000).selectExpr(
      "id AS doc_id",
      "'the quick brown fox jumps over the lazy dog again and again' AS text")
    val maxBucket = 64
    val (pairs, rec) = QueryMetrics.capture(spark) {
      Dedup.simHashPairs(docs, "doc_id", "text", maxBucket = maxBucket).collect()
    }
    // deterministic truncation: pairs are exactly the combinations of the
    // maxBucket SMALLEST ids, hamming 0
    assert(pairs.length == maxBucket * (maxBucket - 1) / 2)
    assert(pairs.forall(_.getAs[Int]("hamming") == 0))
    val idsSeen = pairs.flatMap(r => Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(idsSeen == (0L until maxBucket.toLong).toSet)

    // truncation is observable: the graft_lsh_buckets_* metric reports
    // all 4 over-cap buckets and the true (uncapped) bucket size
    val stats = lshRows(rec).headOption
    assert(stats.isDefined, "no graft_lsh_buckets_* observe metric arrived")
    val s = stats.get
    assert(s.getAs[Long]("over_cap_buckets") == 4L)
    assert(s.getAs[Long]("max_bucket_rows") == 100000L)
    assert(s.getAs[Long]("buckets") == 4L)
  }

  test("sharedWindowPairs over-cap bucket: min-id truncation + metric (pinned contract)") {
    // 500 identical 11-word docs: every doc emits the SAME two distinct
    // 10-grams, so both gram buckets hold all 500 ids — far over cap
    val docs = spark.range(500).selectExpr(
      "id AS doc_id",
      "'w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10' AS text")
    val maxBucket = 16
    val (pairs, rec) = QueryMetrics.capture(spark) {
      Dedup.sharedWindowPairs(docs, "doc_id", "text",
        window = 10, minShared = 2, maxBucket = maxBucket).collect()
    }
    // deterministic truncation: each bucket keeps the maxBucket SMALLEST
    // ids, both buckets keep the same ones, so the emitted pair set is
    // exactly the combinations of ids 0..15 with n_shared == 2
    assert(pairs.length == maxBucket * (maxBucket - 1) / 2, pairs.length.toString)
    assert(pairs.forall(_.getAs[Long]("n_shared") == 2L))
    val idsSeen = pairs.flatMap(r => Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(idsSeen == (0L until maxBucket.toLong).toSet, idsSeen.toString)
    val s = overCap(rec)
    assert(s.getAs[Long]("over_cap_buckets") == 2L, s.toString)
    assert(s.getAs[Long]("max_bucket_rows") == 500L, s.toString)
    assert(s.getAs[Long]("buckets") == 2L, s.toString)
  }

  test("binaryNearDups over-cap bucket: min-id truncation + metric (pinned contract)") {
    // 300 identical 64-byte payloads: frameSample(stride=32, len=16)
    // yields the same two frames for every row → two buckets of 300
    val docs = spark.range(300).selectExpr(
      "id AS doc_id",
      // non-repeating 64 bytes: the two sampled frames (offsets 0 and
      // 32) must be DISTINCT or array_distinct collapses them and
      // n_shared stops at 1
      "CAST('ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/' AS BINARY) AS payload")
    val maxBucket = 16
    val (pairs, rec) = QueryMetrics.capture(spark) {
      graft.multimodal.Multimodal.binaryNearDups(
        docs, "doc_id", "payload",
        stride = 32, frameLen = 16, minShared = 2, maxBucket = maxBucket)
        .collect()
    }
    assert(pairs.length == maxBucket * (maxBucket - 1) / 2, pairs.length.toString)
    assert(pairs.forall(_.getAs[Long]("n_shared") == 2L))
    val idsSeen = pairs.flatMap(r => Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(idsSeen == (0L until maxBucket.toLong).toSet, idsSeen.toString)
    val s = overCap(rec)
    assert(s.getAs[Long]("over_cap_buckets") == 2L, s.toString)
    assert(s.getAs[Long]("max_bucket_rows") == 300L, s.toString)
    assert(s.getAs[Long]("buckets") == 2L, s.toString)
  }
}
