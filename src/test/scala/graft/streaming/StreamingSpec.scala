package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkTestBase
import graft.warehouse.Warehouse

case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def evs(n: Int): Seq[Ev] = (0 until n).map { i =>
    Ev(Timestamp.valueOf(f"2024-01-01 ${i % 5}%02d:${i % 60}%02d:00"),
      if (i % 2 == 0) "click" else "view", i.toDouble)
  }

  test("streaming hourly rollup matches the batch twin") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = EventPipeline.hourlyRollupStreaming(stream.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    stream.addData(evs(200))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly_out")
      .select("hour", "event_type", "n", "sum_value")
      .orderBy("hour", "event_type").collect().toSeq
    val batch = EventPipeline.hourlyRollupBatch(evs(200).toDF())
      .orderBy("hour", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup drops replayed events within the watermark") {
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Ev]
    val deduped = EventPipeline.dedupeStream(
      stream.toDF().withColumn("event_id", $"value".cast("long")),
      "event_id", "ts", "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val batch = evs(10)
    stream.addData(batch)
    stream.addData(batch) // exact replay
    // re-send with the same ids but shifted timestamps (a redelivery that
    // was re-stamped at ingest) — must still be dropped: dedup key is id
    stream.addData(batch.map(e => e.copy(ts = new java.sql.Timestamp(e.ts.getTime + 60000L))))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 10)
  }

  test("foreachBatch merge sink: two micro-batches upsert by key") {
    val dir = Files.createTempDirectory("mergesink").toString + "/tbl"
    val b0 = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "v", "batch")
    val b1 = Seq((2L, "B", 2), (3L, "c", 2)).toDF("id", "v", "batch")
    // three+ batches: the third is the regression case — the swap's
    // .old generation exists non-empty from batch 1, and an unchecked
    // non-recursive delete used to fail there, silently freezing the
    // table at the batch-1 generation forever
    val b2 = Seq((3L, "C", 3), (4L, "d", 3)).toDF("id", "v", "batch")
    val b3 = Seq((1L, "A", 4)).toDF("id", "v", "batch")
    EventPipeline.mergeBatchSink(dir, Seq("id"))(b0, 0)
    EventPipeline.mergeBatchSink(dir, Seq("id"))(b1, 1)
    EventPipeline.mergeBatchSink(dir, Seq("id"))(b2, 2)
    EventPipeline.mergeBatchSink(dir, Seq("id"))(b3, 3)
    val out = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, "A", 4), (2L, "B", 2), (3L, "C", 3), (4L, "d", 3)))
  }

  test("foreachBatch merge sink: a swap interrupted between its renames loses no rows") {
    val dir = Files.createTempDirectory("mergesink").toString + "/tbl"
    EventPipeline.mergeBatchSink(dir, Seq("id"))(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))
    EventPipeline.mergeBatchSink(dir, Seq("id"))(Seq((3L, "c")).toDF("id", "v"), 1)
    val out = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("foreachBatch merge sink refuses a micro-batch that repeats a key, on replay too") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("mergesink").toString
    val dir = root + "/tbl"
    val stream = MemoryStream[(Long, String)]
    def start() = stream.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch(EventPipeline.mergeBatchSink(dir, Seq("id")) _)
      .start()
    def generation() = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    def refusal(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
    val blockSets = spark.sparkContext.getPersistentRDDs.keySet
    val q = start()
    stream.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    val first = generation()
    assert(first == Seq("[1,a]", "[2,b]"), first)
    stream.addData((3L, "c"), (2L, "B"), (2L, "BB"))
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    assert(refusal(e).exists(_.contains("(id=2)")), e)
    // a restart replays the refused batch from the checkpoint: refused again
    val replay = start()
    val again = intercept[StreamingQueryException](replay.processAllAvailable())
    assert(refusal(again).exists(_.contains("(id=2)")), again)
    assert(generation() == first, "the refused batch changed the table")
    assert(spark.sparkContext.getPersistentRDDs.keySet == blockSets,
      "the refused batch left a block set behind")
  }

  test("stream-static enrichment picks up a dimension refresh between micro-batches") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("enrich").toString
    val dimDir = base + "/dim"
    val outDir = base + "/out"
    Seq((1L, "bronze"), (2L, "silver")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val stream = MemoryStream[(Long, Double)]
    val q = stream.toDF().toDF("user_id", "value")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.enrichBatchSink(dimDir, Seq("user_id"),
        // append sink keyed by nothing: keep every enriched event row
        (b, _) => b.write.mode("append").parquet(outDir)) _)
      .start()
    stream.addData(Seq((1L, 10.0), (3L, 30.0))) // 3 has no dim row yet
    q.processAllAvailable()
    // dimension refresh between micro-batches: user 1 promoted, 3 appears
    Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("user_id", "tier").write.mode("overwrite").parquet(dimDir)
    stream.addData(Seq((1L, 11.0), (3L, 31.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(outDir)
      .select("user_id", "value", "tier")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)).getOrElse("∅"))).toSet
    assert(rows == Set(
      (1L, 10.0, "bronze"), // batch 0 saw the old dim
      (3L, 30.0, "∅"),      // left join: unmatched key kept, null tier
      (1L, 11.0, "gold"),   // batch 1 sees the refresh
      (3L, 31.0, "bronze")), rows.toString)
  }

  test("streaming dedup ingest rejects near-dups of earlier batches") {
    implicit val sql = spark.sqlContext
    def doc(words: Seq[String]) = words.mkString(" ")
    val base = (0 until 20).map(i => s"w$i")
    val alt = (0 until 20).map(i => s"x$i")
    // a plain path and a file: URI, which a java.io.File check misses
    val plain = Files.createTempDirectory("dedupingest").toString + "/corpus"
    val uri = "file://" + Files.createTempDirectory("dedupingest").toString + "/corpus"
    for (dir <- Seq(plain, uri)) {
      val stream = MemoryStream[(Long, String)]
      val q = stream.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch(EventPipeline.dedupIngestSink(dir, "doc_id", "text") _)
        .start()
      // batch 0: two distinct docs + an in-batch near-copy of the first
      stream.addData(Seq(
        (1L, doc(base)),
        (2L, doc(alt)),
        (3L, doc(base.updated(0, "CHANGED"))))) // near-dup of 1 within the batch
      q.processAllAvailable()
      // batch 1: near-copy of a batch-0 survivor + one genuinely new doc
      stream.addData(Seq(
        (4L, doc(base.updated(19, "EDIT"))), // near-dup of ingested doc 1
        (5L, doc((0 until 20).map(i => s"z$i")))))
      q.processAllAvailable()
      q.stop()
      val ingested = spark.read.parquet(dir)
        .select("doc_id").as[Long].collect().toSet
      assert(ingested.contains(1L) && ingested.contains(2L) && ingested.contains(5L), dir)
      assert(!ingested.contains(3L), s"in-batch near-dup must be rejected: $dir")
      assert(!ingested.contains(4L), s"cross-batch near-dup must be rejected: $dir")
    }
  }

  test("streaming embedding ingest rejects semantic near-dups of earlier batches") {
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("embingest").toString + "/corpus"
    // distinct directions collide on no SRP band; scaled copies (cosine
    // 1) collide on every band — scale invariance is the kernel's point
    def dirVec(seed: Int): Seq[Float] =
      (0 until 16).map(d => (((seed * 31 + d * 17) % 13) - 6).toFloat / 3f)
    val q = {
      val stream = MemoryStream[(Long, Seq[Float])]
      val query = stream.toDF().toDF("vec_id", "embedding")
        .writeStream.outputMode("append")
        .foreachBatch(EventPipeline.embeddingDedupIngestSink(
          dir, "vec_id", "embedding", threshold = 0.999) _)
        .start()
      // batch 0: two distinct vectors + an in-batch scaled twin of the first
      stream.addData(Seq(
        (1L, dirVec(1)),
        (2L, dirVec(2)),
        (3L, dirVec(1).map(_ * 1.5f)))) // cosine-1 twin of 1 within the batch
      query.processAllAvailable()
      // batch 1: scaled twin of a batch-0 survivor + one genuinely new vector
      stream.addData(Seq(
        (4L, dirVec(2).map(_ * 0.5f)), // cosine-1 twin of ingested vector 2
        (5L, dirVec(7))))
      query.processAllAvailable()
      query
    }
    q.stop()
    val ingested = spark.read.parquet(dir)
      .select("vec_id").as[Long].collect().toSet
    assert(ingested.contains(1L) && ingested.contains(2L) && ingested.contains(5L),
      s"survivors missing: $ingested")
    assert(!ingested.contains(3L), "in-batch semantic near-dup must be rejected")
    assert(!ingested.contains(4L), "cross-batch semantic near-dup must be rejected")
  }

  test("srpPairsBetween finds cross-side scaled twins only (ids-only exchange)") {
    val corpus = Seq((10L, Seq(1.0f, 2.0f, -1.0f, 0.5f)),
      (11L, Seq(-2.0f, 0.5f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val probe = Seq(
      (20L, Seq(1.5f, 3.0f, -1.5f, 0.75f)), // 10 × 1.5 → cosine 1
      (21L, Seq(0.5f, -1.0f, -2.0f, 3.0f))  // unrelated
    ).toDF("vec_id", "embedding")
    val pairs = graft.ops.Dedup.srpPairsBetween(
      corpus, probe, "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((10L, 20L, 1.0)), pairs.toSeq.toString)
    val kept = graft.ops.Dedup.embeddingDedupAgainstCorpus(
      corpus, probe, "vec_id", "embedding", threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(21L))
  }

  test("streaming ANN serving answers probe batches from a prebuilt PQ artifact") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("annserve").toString
    val (corpusP, cbP, hitsP) = (root + "/corpus", root + "/codebook", root + "/hits")
    // 3 well-separated 4-dim blobs (the KMeansSpec geometry): ADC ranking
    // stays in-blob, and every in-corpus probe's rank-1 hit is itself
    val anchors = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(50.0, 50.0, 50.0, 50.0),
      Seq(100.0, 100.0, 0.0, 0.0))
    val rows = for {
      (a, b) <- anchors.zipWithIndex
      i <- 0 until 20
    } yield (b * 100L + i,
      a.zipWithIndex.map { case (x, d) => (x + ((i * 7 + d * 3) % 5) * 0.1).toFloat })
    val vecs = rows.toDF("vec_id", "embedding")
    vecs.write.parquet(corpusP)                       // offline: corpus
    graft.ops.Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 4, iters = 3).write.parquet(cbP) // offline: artifact
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.annServeSink(
        corpusP, cbP, hitsP, "vec_id", "embedding", k = 3, dim = 4, m = 2) _)
      .start()
    stream.addData(rows.filter(r => Set(0L, 105L).contains(r._1)))
    q.processAllAvailable()
    stream.addData(rows.filter(r => r._1 == 210L)) // second batch merges in
    q.processAllAvailable()
    q.stop()
    val hits = spark.read.parquet(hitsP)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(hits.size == 9, s"3 probes × k=3 expected: ${hits.size}")
    // ADC distances tie within a blob (vectors share codes), so rank-1
    // need not be the probe itself — blob membership is the PQ contract
    Seq(0L, 105L, 210L).foreach { p =>
      (1 to 3).foreach(r => assert(hits((p, r)) / 100 == p / 100,
        s"probe $p rank $r left its blob"))
    }
  }

  test("streaming PCA projection serves from the stored model and replays idempotently") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("pcaserve").toString
    val (modelP, outP) = (root + "/model", root + "/reduced")
    val corpus = (0 until 100).map(i =>
      (i.toLong, Seq(1.0f + 0.01f * (i % 10), -0.5f + 0.01f * (i % 7), 0.0f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val model = graft.ops.Pca.fit(corpusDf, "embedding", dim = 3)
    graft.ops.Pca.modelToFrame(spark, model).write.parquet(modelP)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.pcaProjectSink(
        modelP, outP, "vec_id", "embedding", "y", p = 2, whiten = true) _)
      .start()
    stream.addData(corpus.take(3))
    q.processAllAvailable()
    stream.addData(corpus.take(2)) // replay of ids 0, 1 must overwrite, not duplicate
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(outP).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(served.size == 3, s"replayed ids must overwrite: ${served.keySet}")
    val offline = graft.ops.Pca.project(corpusDf.filter(col("vec_id") < 3),
        model, "embedding", "y", p = 2, whiten = true)
      .select("vec_id", "y").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(served == offline, "served projection diverges from the offline path")
  }

  test("streaming drift monitor flags the shifted batch against the stored reference") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("driftmon").toString
    val (refP, driftP) = (root + "/ref", root + "/drift")
    def wave(shift: Float, n: Int) = (0 until n).map(i =>
      (i.toLong, Seq(0.001f * (i % 50), 0.001f * (i % 50) + shift)))
    wave(0f, 200).toDF("vec_id", "embedding").write.parquet(refP)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = stream.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.embeddingDriftSink(refP, driftP, "embedding") _)
      .start()
    stream.addData(wave(0f, 100))    // batch 0: same distribution
    q.processAllAvailable()
    stream.addData(wave(0.5f, 100))  // batch 1: dim 1 shifted by +0.5
    q.processAllAvailable()
    q.stop()
    val drift = spark.read.parquet(driftP)
      .select("batch_id", "dim", "shift_micro").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(drift.size == 4, s"2 batches × 2 dims expected: $drift")
    assert(drift((0L, 0)) == 0L && drift((0L, 1)) == 0L,
      s"in-distribution batch must not drift: $drift")
    assert(drift((1L, 0)) == 0L, s"unshifted dim flagged: $drift")
    assert(drift((1L, 1)) == 500000L, s"planted shift not reported: $drift")
  }

  test("streaming quality gate accepts reference-like docs, rejects junk; replay converges") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("qualgate").toString
    val (ref, acc, rej) = (root + "/ref", root + "/accept", root + "/reject")
    // reference slice: V=2, bigrams (a,b) c=40 / (b,a) c=30 — reference-
    // like docs score ~0.03 avg nll, unseen-vocab docs back off to
    // -ln(1/2)=0.693; threshold 0.3 separates them with a wide margin
    Seq.fill(10)((0L, "a b a b a b a b")).toDF("doc_id", "text")
      .write.parquet(ref)
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.qualityGateSink(
        ref, acc, rej, "doc_id", "text", maxAvgNll = 0.3) _)
      .start()
    stream.addData(Seq(
      (1L, "a b a b"),        // reference-like → accept
      (2L, "zz qq zz qq"),    // unseen vocabulary → reject
      (3L, "solo")))          // one token: unjudgeable → reject (default)
    q.processAllAvailable()
    stream.addData(Seq((4L, "b a b a")))
    q.processAllAvailable()
    stream.addData(Seq((5L, "a b zz qq zz qq zz qq"))) // mostly junk → reject
    q.processAllAvailable()
    q.stop()
    val accepted = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(1L, 4L), accepted.toString)
    val rejects = spark.read.parquet(rej).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[Any]("avg_nll"))).toMap
    assert(rejects.keySet == Set(2L, 3L, 5L), rejects.toString)
    assert(rejects(3L).isEmpty, "unjudgeable doc must carry a null score")
    assert(rejects(2L).nonEmpty && rejects(5L).nonEmpty)
    // foreachBatch re-delivers a batch after failure: the keyed merge
    // overwrites rather than appends, so the tables converge
    EventPipeline.qualityGateSink(ref, acc, rej, "doc_id", "text", 0.3)(
      Seq((5L, "a b zz qq zz qq zz qq")).toDF("doc_id", "text"), 2L)
    assert(spark.read.parquet(acc).count() == 2)
    assert(spark.read.parquet(rej).count() == 3)
  }

  test("quality gate keepUnjudgeable=true routes short docs to accept") {
    val root = Files.createTempDirectory("qualgate2").toString
    val (ref, acc, rej) = (root + "/ref", root + "/accept", root + "/reject")
    Seq.fill(10)((0L, "a b a b a b a b")).toDF("doc_id", "text")
      .write.parquet(ref)
    EventPipeline.qualityGateSink(ref, acc, rej, "doc_id", "text", 0.3,
      keepUnjudgeable = true)(
      Seq((1L, "solo"), (2L, "zz qq zz qq")).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(acc).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(rej).select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("stream-stream event-time join matches within the window, evicts outside") {
    implicit val sql = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val impressions = MemoryStream[(Long, String, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = EventPipeline.eventTimeJoin(
      impressions.toDF().toDF("imp_user", "ad", "imp_ts"),
      clicks.toDF().toDF("click_user", "click_ts"),
      "imp_user", "click_user", "imp_ts", "click_ts",
      withinSeconds = 1800, watermark = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    impressions.addData(Seq(
      (1L, "adA", t("2024-01-01 10:00:00")),
      (2L, "adB", t("2024-01-01 10:00:00"))))
    clicks.addData(Seq(
      (1L, t("2024-01-01 10:10:00")), // within 30 min: attributed
      (2L, t("2024-01-01 11:30:00")), // 90 min later: outside the window
      (3L, t("2024-01-01 10:05:00")))) // no impression for this user
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attr_out")
      .select("imp_user", "ad").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "adA")), s"got $rows")
  }

  test("eventTimeJoin resolves a shared key name (dataframe-qualified refs)") {
    // static frames exercise the same analysis path; a bare col() key
    // comparison would throw AMBIGUOUS_REFERENCE here
    def t(s: String) = Timestamp.valueOf(s)
    val imps = Seq((1L, "adA", t("2024-01-01 10:00:00")))
      .toDF("user_id", "ad", "imp_ts")
    val clks = Seq((1L, t("2024-01-01 10:10:00")), (1L, t("2024-01-01 12:00:00")))
      .toDF("user_id", "click_ts")
    val out = EventPipeline.eventTimeJoin(imps, clks,
      "user_id", "user_id", "imp_ts", "click_ts", 1800, "10 minutes")
    assert(out.count() == 1)
  }

  test("merge is idempotent (re-applying a batch is a no-op)") {
    val base = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val batch = Seq((2L, "Y"), (3L, "z")).toDF("id", "v")
    val once = Warehouse.mergeByKey(base, batch, Seq("id"))
    val twice = Warehouse.mergeByKey(once, batch, Seq("id"))
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("streaming spike monitor flags a planted burst; batch replay can't double-count") {
    implicit val sql = spark.sqlContext
    val counts = Files.createTempDirectory("spikes").toString + "/counts"
    val alerts = scala.collection.mutable.Set[(String, Long)]()
    def alert(df: org.apache.spark.sql.DataFrame): Unit =
      alerts ++= df.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val stream = MemoryStream[(String, Timestamp)]
    val q = stream.toDF().toDF("event_type", "ts")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.spikeMonitorSink(counts, col("event_type"),
        col("ts"), alert, trailHours = 24, minHistory = 12) _)
      .start()
    def hour(h: Int) = new Timestamp(86400000L + h * 3600000L)
    // 30 steady hours of ~60 events, split across two batches
    def steady(hs: Range) = for {
      h <- hs; i <- 0 until (58 + (h * 7) % 5)
    } yield ("ingest", new Timestamp(hour(h).getTime + i * 1000L))
    stream.addData(steady(0 until 15)); q.processAllAvailable()
    stream.addData(steady(15 until 30)); q.processAllAvailable()
    assert(alerts.isEmpty, s"steady load must not alert: $alerts")
    // burst hour → flagged
    stream.addData((0 until 300).map(i =>
      ("ingest", new Timestamp(hour(30).getTime + i * 1000L))))
    q.processAllAvailable()
    q.stop()
    assert(alerts == Set(("ingest", hour(30).getTime)), alerts.toString)

    // replaying a batch's slice (same batch_id) overwrites, never adds:
    // a steady hour re-delivered stays unflagged
    val preReplay = spark.read.parquet(counts)
      .groupBy("key", "hour").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    EventPipeline.spikeMonitorSink(counts, col("event_type"), col("ts"),
      alert, trailHours = 24, minHistory = 12)(
      steady(15 until 30).toDF("event_type", "ts"), 1L) // batch 1 re-delivered
    val postReplay = spark.read.parquet(counts)
      .groupBy("key", "hour").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(postReplay == preReplay, "replay changed the accumulated counts")
  }

  test("stream-stream left outer join emits null matches after the watermark passes") {
    implicit val sql = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val imps = MemoryStream[(Long, Timestamp)]
    val clks = MemoryStream[(Long, Timestamp)]
    val out = EventPipeline.eventTimeJoinLeftOuter(
      imps.toDF().toDF("user_id", "imp_ts"),
      clks.toDF().toDF("cuser", "click_ts"),
      "user_id", "cuser", "imp_ts", "click_ts", 600, "10 seconds")
    val q = out.writeStream.format("memory").queryName("loj")
      .outputMode("append").start()
    imps.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:00:00")))
    clks.addData((1L, t("2024-01-01 10:05:00")))
    q.processAllAvailable()
    // push both watermarks far past user 2's join window, twice — state
    // eviction happens a batch after the watermark moves
    for (h <- Seq("12", "13")) {
      imps.addData((99L, t(s"2024-01-01 $h:00:00")))
      clks.addData((99L, t(s"2024-01-01 $h:00:00")))
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("loj")
      .select("user_id", "click_ts").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows.contains((1L, Some(t("2024-01-01 10:05:00")))),
      s"matched pair missing: $rows")
    assert(rows.contains((2L, None)),
      s"unmatched left row never emitted with null match: $rows")
  }

  test("streaming cusum monitor flags a planted level shift; replay is exactly-once") {
    implicit val sql = spark.sqlContext
    val counts = Files.createTempDirectory("cusum").toString + "/counts"
    var flagged: Set[(String, java.sql.Date)] = Set.empty
    def alert(df: org.apache.spark.sql.DataFrame): Unit =
      flagged = df.collect().map(r => (r.getString(0), r.getDate(1))).toSet
    val stream = MemoryStream[(String, Timestamp)]
    val q = stream.toDF().toDF("event_type", "ts")
      .writeStream.outputMode("append")
      .foreachBatch(EventPipeline.cusumMonitorSink(counts, col("event_type"),
        col("ts"), alert, thresholdPct = 100) _)
      .start()
    def day(d: Int, n: Int) = (0 until n).map(i =>
      ("ingest", new Timestamp(86400000L * (20 + d) + i * 1000L)))
    // 10 quiet days of 100, then 10 days at +40%: no single day spikes,
    // the accumulated shift must flag
    stream.addData((0 until 10).flatMap(day(_, 100)))
    q.processAllAvailable()
    assert(flagged.isEmpty, s"quiet days must not flag: $flagged")
    stream.addData((10 until 20).flatMap(day(_, 140)))
    q.processAllAvailable()
    q.stop()
    assert(flagged.nonEmpty, "accumulated +40% shift must flag")

    // re-delivering batch 1's slice overwrites, never adds
    val pre = spark.read.parquet(counts)
      .groupBy("key", "day").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2))).toSet
    EventPipeline.cusumMonitorSink(counts, col("event_type"), col("ts"),
      alert, thresholdPct = 100)(
      (10 until 20).flatMap(day(_, 140)).toDF("event_type", "ts"), 1L)
    val post = spark.read.parquet(counts)
      .groupBy("key", "day").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2))).toSet
    assert(post == pre, "replay changed the accumulated counts")
  }

  test("streaming heavy hitters: mergeable summaries across batches, replay-safe") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("hh-sink").toString + "/summaries"
    var latest: Map[String, Long] = Map.empty
    val report: org.apache.spark.sql.DataFrame => Unit = df =>
      latest = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stream = MemoryStream[String]
    val q = stream.toDF().withColumnRenamed("value", "text")
      .writeStream
      .foreachBatch(EventPipeline.heavyHittersSink(dir, col("text"), m = 8, report) _)
      .start()
    // batch 0: "alpha" dominates; batch 1: "beta" surges
    stream.addData((0 until 200).map(i => s"alpha common$i") ++ Seq("alpha alpha"))
    q.processAllAvailable()
    assert(latest.contains("alpha"), s"dominant token missing: $latest")
    stream.addData((0 until 300).map(i => s"beta other$i"))
    q.processAllAvailable()
    q.stop()
    assert(latest.contains("alpha") && latest.contains("beta"),
      s"both heavy tokens must survive the cross-batch merge: $latest")
    val merged = latest

    // re-delivering batch 1 (same batch_id) must overwrite its summary,
    // leaving the merged report unchanged
    EventPipeline.heavyHittersSink(dir, col("text"), m = 8, report)(
      (0 until 300).map(i => s"beta other$i").toDF("text"), 1L)
    assert(latest == merged, s"replay changed the report: $latest vs $merged")
  }

  test("streaming quantile sketch: cross-batch merge equals the one-shot sketch, replay-safe") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qs-sink").toString + "/buckets"
    var latest: Map[String, (Long, Long, Long, Long)] = Map.empty
    val report: org.apache.spark.sql.DataFrame => Unit = df =>
      latest = df.collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("est_p50"),
          r.getAs[Long]("est_p90"), r.getAs[Long]("est_p99"))).toMap
    val batch0 = (1 to 300).map(i => ("lat", i * 7L))
    val batch1 = (1 to 300).map(i => ("lat", i * 13L + 1000))
    val stream = MemoryStream[(String, Long)]
    val q = stream.toDF().toDF("g", "v")
      .writeStream
      .foreachBatch(EventPipeline.quantileSketchSink(
        dir, col("g"), col("v"), subBuckets = 16, report) _)
      .start()
    stream.addData(batch0)
    q.processAllAvailable()
    assert(latest("lat")._1 == 300L)
    stream.addData(batch1)
    q.processAllAvailable()
    q.stop()
    assert(latest("lat")._1 == 600L)
    // the streamed two-batch merge must EQUAL the one-shot batch sketch
    // over the union — the mergeability contract, end to end
    val oneShot = graft.ops.Stats.sketchQuantiles(
      (batch0 ++ batch1).toDF("g", "v"), col("g"), col("v"), subBuckets = 16)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("est_p50"),
          r.getAs[Long]("est_p90"), r.getAs[Long]("est_p99"))).toMap
    assert(latest == oneShot, s"stream merge diverged: $latest vs $oneShot")

    // re-delivering batch 1 (same batch_id) must overwrite its buckets,
    // leaving the report unchanged
    EventPipeline.quantileSketchSink(dir, col("g"), col("v"),
      subBuckets = 16, report)(batch1.toDF("g", "v"), 1L)
    assert(latest == oneShot, s"replay changed the report: $latest")
  }

  test("streaming KS drift: matching stream stays quiet, shifted stream alerts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ks-sink").toString
    val refVals = (1 to 500).map(i => ("r", i * 3L + 10))
    graft.ops.Stats.sketchBuckets(refVals.toDF("g", "v"),
        lit("s"), col("v"), 16)
      .write.parquet(s"$root/ref")
    var last: (Long, Boolean) = (0L, false)
    val alert: org.apache.spark.sql.DataFrame => Unit = df => {
      val r = df.collect().head
      last = (r.getAs[Long]("d_micro"), r.getAs[Boolean]("drifted"))
    }
    val stream = MemoryStream[Long]
    val q = stream.toDF().toDF("v")
      .writeStream
      .foreachBatch(EventPipeline.ksDriftSink(s"$root/ref", s"$root/buckets",
        col("v"), 16, thresholdMicro = 200000L, alert) _)
      .start()
    // batch 0: same distribution as the reference → below threshold
    stream.addData((1 to 500).map(i => i * 3L + 10))
    q.processAllAvailable()
    assert(!last._2, s"matching stream flagged drifted: $last")
    // batch 1: values 100× larger — the cumulative mix must now drift
    stream.addData((1 to 1500).map(i => i * 300L + 100000))
    q.processAllAvailable()
    q.stop()
    assert(last._2 && last._1 > 200000L, s"shifted stream not flagged: $last")
  }

  test("jdbcUpsertSink: update-mode counts land in Derby, replay-safe") {
    implicit val sql = spark.sqlContext
    val url = s"jdbc:derby:memory:streamdb${System.nanoTime()};create=true"
    val stream = MemoryStream[Ev]
    val counts = stream.toDF()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = counts.writeStream.outputMode("update")
      .foreachBatch(
        EventPipeline.jdbcUpsertSink(url, "type_counts", Seq("event_type")) _)
      .start()
    stream.addData(evs(10)) // 5 click, 5 view
    q.processAllAvailable()
    val after1 = graft.sources.Jdbc.read(spark, url, "type_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after1 == Map("click" -> 5L, "view" -> 5L), after1.toString)
    stream.addData(evs(6)) // +3 click, +3 view
    q.processAllAvailable()
    q.stop()
    val after2 = graft.sources.Jdbc.read(spark, url, "type_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after2 == Map("click" -> 8L, "view" -> 8L), after2.toString)
  }
}
