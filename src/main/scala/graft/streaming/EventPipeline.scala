package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.warehouse.Warehouse

/** Structured-Streaming-compatible event transforms (SURVEY §2.10).
  *
  * The reference has no stream processing — its incremental-ness is the
  * idempotent batch upsert (reference: scripts/database/database.py:51-73).
  * We model ingestion as pure DataFrame→DataFrame functions that run
  * identically over a static frame (batch refresh, DuckDB-oracle-checked
  * via q10/q33) and under `readStream` (watermark + windowed state). The
  * merge sink is the `foreachBatch` body.
  */
case class RawEvent(user_id: Long, ts: java.sql.Timestamp)
case class OpenSession(sessionSeq: Long, startTs: Long, lastTs: Long, n: Long)
case class ClosedSession(user_id: Long, session_seq: Long, n_events: Long,
  session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)
case class TypedEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
case class FunnelProgress(depth: Int, reachedTs: Long)
case class FunnelAdvance(user_id: Long, stage_idx: Int, stage: String,
  ts: java.sql.Timestamp)

object EventPipeline {

  /** Hourly tumbling-window rollup. On a stream, apply after
    * `withWatermark("ts", ...)`; uses `window()` so state is bounded. */
  def hourlyRollupStreaming(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Batch twin of [[hourlyRollupStreaming]] (same grouping, no watermark
    * needed) — what q10_event_hourly checks against DuckDB. */
  def hourlyRollupBatch(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Exactly-once style streaming dedup: drop events whose id was
    * already seen within the watermark horizon — the ingestion guard in
    * front of the merge sink (state is bounded by the watermark).
    * Keyed on the id ALONE: a redelivered event often carries a fresh
    * ingest timestamp, so including the ts column in the key would let
    * re-sends through (`dropDuplicatesWithinWatermark` dedups on id while
    * still expiring state by the event-time watermark). */
  def dedupeStream(events: DataFrame, idCol: String, tsCol: String,
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCol)

  /** Custom-state sessionization over a stream: a >gap pause closes the
    * user's session, which is emitted downstream (Append mode). State =
    * the open session per user; survives across micro-batches via
    * [[GroupState]]. The batch twin is q33_sessionize (lag + cumulative
    * flag sum over a static frame).
    *
    * State is BOUNDED: the input must carry a watermark (see
    * [[sessionizeStream]]), and each open session arms an event-time
    * timeout at lastTs + gap — when the watermark passes it, the session
    * is emitted and its state removed. Without this (round 1 used
    * NoTimeout) an idle user's state lived forever and their final
    * session never closed. */
  def sessionizeStateful(events: Dataset[RawEvent], gapSeconds: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[RawEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.sessionSeq, s.n,
              new Timestamp(s.startTs), new Timestamp(s.lastTs)))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              open match {
                case Some(s) if e.ts.getTime - s.lastTs <= gapSeconds * 1000L =>
                  open = Some(s.copy(lastTs = e.ts.getTime, n = s.n + 1))
                case Some(s) =>
                  closed += ClosedSession(uid, s.sessionSeq, s.n,
                    new Timestamp(s.startTs), new Timestamp(s.lastTs))
                  open = Some(OpenSession(s.sessionSeq + 1, e.ts.getTime, e.ts.getTime, 1))
                case None =>
                  open = Some(OpenSession(1, e.ts.getTime, e.ts.getTime, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapSeconds * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming conversion funnel — the live twin of q113
    * ([[graft.ops.Analytics.funnel]]): per-user funnel progress rides
    * [[GroupState]], and each depth ADVANCE is emitted exactly once
    * (Append mode), so `count by stage_idx` over the advance log IS the
    * live funnel. Semantics match the batch twin on in-order delivery:
    * strict-after advancement, out-of-sequence stage events skipped.
    * (Cross-batch out-of-order arrivals fold in arrival order — the
    * standard streaming tradeoff; the replay spec pins in-order
    * equivalence with the batch operator.)
    *
    * State is BOUNDED three ways: only users with an in-progress funnel
    * hold state (depth-0 users store nothing), completing the last
    * stage removes state immediately, and in-progress funnels arm an
    * event-time timeout `horizonSeconds` past their last advance —
    * abandoned funnels evaporate when the watermark passes. */
  def funnelStream(events: Dataset[TypedEvent], stages: Seq[String],
      watermark: String, horizonSeconds: Long): Dataset[FunnelAdvance] = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      s"funnel stages must be non-empty and distinct, got $stages")
    require(horizonSeconds > 0, s"funnel horizon must be positive, got $horizonSeconds")
    import events.sparkSession.implicits._
    val idx = stages.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[TypedEvent], state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq
              .filter(e => idx.contains(e.event_type))
              .sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue))
            val out = Seq.newBuilder[FunnelAdvance]
            sorted.foreach { e =>
              val si = idx(e.event_type)
              if (si == st.depth + 1 &&
                (st.depth == 0 || e.ts.getTime > st.reachedTs)) {
                st = FunnelProgress(si, e.ts.getTime)
                out += FunnelAdvance(uid, si, stages(si - 1), e.ts)
              }
            }
            if (st.depth >= stages.size) state.remove()
            else if (st.depth > 0) {
              state.update(st)
              // clamp past the watermark — a timeout at-or-before it is
              // rejected by the state store
              state.setTimeoutTimestamp(math.max(
                st.reachedTs + horizonSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1000L))
            }
            out.result().iterator
          }
      }
  }

  /** [[sessionizeStateful]] with the watermark the event-time timeout
    * requires: the full streaming sessionizer (watermark → keyed state →
    * Append sink). */
  def sessionizeStream(events: Dataset[RawEvent], gapSeconds: Long,
      watermark: String): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    sessionizeStateful(
      events.withWatermark("ts", watermark).as[RawEvent], gapSeconds)
  }

  /** Watermarked stream-stream event-time join (the attribution shape:
    * match each right-side event to left-side events for the same key
    * within `[leftTs, leftTs + withinSeconds]`). Spark plans this as a
    * streaming symmetric hash join; the BOTH-side watermarks plus the
    * time-range condition are what let it EVICT state — without them
    * each side's join state grows forever, the classic stream-join
    * leak. Works identically over static frames (the batch twin is an
    * ordinary non-equi conjunct on an equi-join, which at batch scale
    * is [[graft.ops.RangeJoin]]'s territory when no equi key exists).
    *
    * The join keys MAY share a name (refs are dataframe-qualified);
    * all other column names must be disjoint or downstream references
    * to them will be ambiguous. Both ts columns must be event-time
    * timestamps. `watermark` bounds how late either side may arrive
    * (e.g. "10 minutes"). */
  def eventTimeJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      withinSeconds: Long, watermark: String): DataFrame = {
    require(withinSeconds > 0, s"withinSeconds must be positive: $withinSeconds")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // dataframe-qualified refs: with a shared key name (user_id ==
    // user_id, the documented usage) bare col() is AMBIGUOUS_REFERENCE
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinSeconds SECONDS"))
  }

  /** LEFT OUTER [[eventTimeJoin]]: the unmatched-left rows (an
    * impression that never converted) are EMITTED WITH NULL right
    * columns once the watermark passes the end of their join window —
    * the semantics a "did-not-convert" audit stream needs, and the
    * corner where stream-stream state cleanup actually shows:
    * without the time-bound + watermark, Spark would have to hold
    * every left row forever and could never emit a null match.
    * Output timing is therefore watermark-delayed by design; the
    * StreamingSpec drives a second batch past the watermark to flush
    * the null-match rows. */
  def eventTimeJoinLeftOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      withinSeconds: Long, watermark: String): DataFrame = {
    require(withinSeconds > 0, s"withinSeconds must be positive: $withinSeconds")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinSeconds SECONDS"),
      "left_outer")
  }

  /** foreachBatch body factory: enrich each micro-batch against a
    * slowly-refreshed DIMENSION table and hand the result to `sink` —
    * the streaming form of the J5 broadcast lookup join (reference:
    * scripts/people/people_federal.py:22-23), and the most common
    * production stream shape (events × user/geo/catalog dims).
    *
    * The dimension is RE-READ from `dimPath` on every micro-batch. A
    * plain stream-static join would not do this: the static side's file
    * listing is resolved once at query start, so a dimension refreshed
    * mid-stream would keep serving the stale snapshot for the lifetime
    * of the query. foreachBatch re-resolution is the documented pattern
    * for picking up dimension updates; per batch it costs one re-list +
    * re-broadcast of a dimension-sized table.
    *
    * The REFRESHER's contract: the swap at `dimPath` must be atomic
    * against concurrent readers — write the new version to a side
    * directory and rename it in (the [[mergeBatchSink]] tmp+rename
    * dance), or point `dimPath` at a snapshot-isolated table format. A
    * plain `mode("overwrite").parquet(dimPath)` deletes files before
    * the replacements land: a micro-batch reading mid-swap either dies
    * on FileNotFound or broadcast-joins half the dimension, and with a
    * left join the resulting null dims mislabel events SILENTLY.
    * The join is hinted broadcast — a dimension that outgrows
    * broadcast belongs in [[graft.ops.Dedup.dedupAgainstCorpus]]-style
    * keyed storage, not per-batch re-reads.
    *
    * LEFT join by default: an event whose key is missing from the dim
    * (new user mid-refresh) must not be DROPPED by the enrichment —
    * null dims are the downstream-visible signal. Composes with
    * [[mergeBatchSink]]:
    * `enrichBatchSink(dim, keys, mergeBatchSink(table, mergeKeys))`. */
  def enrichBatchSink(dimPath: String, keys: Seq[String],
      sink: (DataFrame, Long) => Unit, joinType: String = "left")(
      batch: DataFrame, batchId: Long): Unit = {
    val dim = batch.sparkSession.read.parquet(dimPath)
    sink(batch.join(broadcast(dim), keys, joinType), batchId)
  }

  /** foreachBatch body: merge a micro-batch into the keyed table at
    * `tablePath` (create on first batch). Parquet overwrite of the merged
    * result — at cluster scale this table would be bucketed by the key so
    * the anti-join side stays shuffle-free. */
  def mergeBatchSink(tablePath: String, keys: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val merged =
      if (Warehouse.liveGeneration(spark, tablePath))
        Warehouse.mergeByKey(spark.read.parquet(tablePath), batch, keys)
      else batch
    val tmp = tablePath + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    // every FS step checked — unchecked swaps are how merge sinks eat
    // data (see Warehouse.checkedSwapInto for the found-bug history)
    Warehouse.checkedSwapInto(spark, tablePath, tmp)
  }

  /** foreachBatch body: keyed upsert of each micro-batch into a JDBC
    * warehouse table — [[graft.sources.Jdbc.upsertByKey]] composed onto
    * the stream, the live-feed form of the reference's Postgres sink
    * with batched statements instead of one commit per row. Replay-safe
    * by the upsert's idempotence: re-processing a batch after a failure
    * re-applies the same key→values and the table cannot drift. The
    * batch is deduped on `keys` first (update-mode aggregates can emit
    * one row per key per trigger, but a raw append stream may not);
    * within-batch duplicate VALUES for one key have no defined winner —
    * pre-aggregate upstream when that matters. */
  def jdbcUpsertSink(url: String, table: String, keys: Seq[String],
      options: Map[String, String] = Map.empty)(
      batch: DataFrame, batchId: Long): Unit = {
    val unique = batch.dropDuplicates(keys)
    graft.sources.Jdbc.createTableIfMissing(unique, url, table, options)
    graft.sources.Jdbc.upsertByKey(unique, url, table, keys, options = options)
  }

  /** foreachBatch body for streaming corpus ingest with near-dup
    * rejection: each micro-batch is (1) self-deduped with the in-batch
    * MinHash+LSH kernel, then (2) filtered against the accumulated
    * corpus at `corpusPath` with the cross-corpus kernel
    * ([[graft.ops.Dedup.dedupAgainstCorpus]]), and the survivors are
    * APPENDED — so a near-copy of anything already ingested, including
    * a doc admitted two batches ago, is rejected. The batch composition
    * of continuous crawl ingest: the corpus only ever grows by verified-
    * novel docs, and reprocessing a batch after a failure re-drops its
    * duplicates (append of an empty survivor set), keeping the sink
    * effectively idempotent for replayed content.
    *
    * At cluster scale the corpus side's band buckets would be
    * precomputed and stored (the signature scan is the dominant cost;
    * the bucket frame is the natural "LSH index" table) — here the
    * corpus is re-signed per batch, which is the honest local form. */
  def dedupIngestSink(corpusPath: String, idCol: String, textCol: String,
      threshold: Double = 0.5)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val inBatchPairs = graft.ops.Dedup.minHashPairs(
      batch, idCol, textCol, threshold = threshold)
    val selfDeduped = graft.ops.Dedup.applyDedup(
      batch, idCol, inBatchPairs.cache())
    inBatchPairs.unpersist()
    val survivors =
      if (new java.io.File(corpusPath).exists())
        graft.ops.Dedup.dedupAgainstCorpus(
          spark.read.parquet(corpusPath), selfDeduped, idCol, textCol, threshold)
      else selfDeduped
    survivors.write.mode("append").parquet(corpusPath)
  }

  /** foreachBatch body for streaming EMBEDDING ingest with near-dup
    * rejection — the vector twin of [[dedupIngestSink]] for a corpus
    * keyed by semantic similarity instead of text overlap: each
    * micro-batch is (1) self-deduped with the index-free SRP-LSH kernel
    * ([[graft.ops.Dedup.embeddingNearDupsSrp]] — no centroid seeding, so
    * any batch size/id distribution works), then (2) filtered against
    * the accumulated corpus with the cross-corpus SRP kernel
    * ([[graft.ops.Dedup.srpPairsBetween]] — both sides band on the same
    * fixed-seed hyperplanes), and the survivors are APPENDED. A
    * near-copy of anything already ingested, including a vector admitted
    * two batches ago, is rejected; replaying a batch after failure
    * re-drops its duplicates (empty append), keeping the sink
    * effectively idempotent for replayed content.
    *
    * At cluster scale the corpus side's band chunks would be
    * precomputed and stored (the signature scan dominates; the chunk
    * frame is the natural SRP index table) — re-signing per batch is
    * the honest local form, same trade as [[dedupIngestSink]]. */
  def embeddingDedupIngestSink(corpusPath: String, idCol: String,
      vecCol: String, threshold: Double = 0.99)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val inBatchPairs = graft.ops.Dedup.embeddingNearDupsSrp(
      batch, idCol, vecCol, threshold)
    val selfDeduped = graft.ops.Dedup.applyDedup(
      batch, idCol, inBatchPairs.cache())
    inBatchPairs.unpersist()
    val survivors =
      if (fs.exists(hPath))
        graft.ops.Dedup.embeddingDedupAgainstCorpus(
          spark.read.parquet(corpusPath), selfDeduped, idCol, vecCol, threshold)
      else selfDeduped
    survivors.write.mode("append").parquet(corpusPath)
  }

  /** foreachBatch body for streaming ANN serving — the online half of
    * the build-once-serve-many split (README deployment example): each
    * micro-batch of probe vectors is answered from a PREBUILT PQ
    * codebook artifact via
    * [[graft.ops.Similarity.pqTopKWithCodebook]] — no Lloyd rounds on
    * the serving path, ever — and the (probe_id, rank)-keyed hits merge
    * into `hitsPath`, so a replayed batch overwrites its own rows and
    * the results table converges (the [[mergeBatchSink]] discipline).
    *
    * The corpus is re-encoded against the codebook per batch here — the
    * honest local form; a deployment stores the codes frame
    * ([[graft.ops.Similarity.pqEncode]] output) as a second artifact
    * next to the codebook and the serving path becomes pure ADC lookup
    * against it. Both artifacts are versioned together: codes are only
    * meaningful under the codebook that produced them. */
  def annServeSink(corpusPath: String, codebookPath: String,
      hitsPath: String, idCol: String, vecCol: String,
      k: Int, dim: Int, m: Int)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val hits = graft.ops.Similarity.pqTopKWithCodebook(
      spark.read.parquet(corpusPath), batch, idCol, vecCol, k, dim, m,
      spark.read.parquet(codebookPath))
    mergeBatchSink(hitsPath, Seq("probe_id", "rank"))(hits, batchId)
  }

  /** foreachBatch body for streaming PCA projection/whitening — the
    * online half of the PCA build/serve split
    * ([[graft.ops.Pca.modelToFrame]] is the offline artifact): each
    * micro-batch of embeddings projects against the STORED model (no
    * fit on the serving path, ever) and the id-keyed reduced vectors
    * merge into `outPath`, so a replayed batch overwrites its own rows
    * ([[mergeBatchSink]] discipline). The model is re-read per batch —
    * stream-static shape: re-fit offline after a drift alert
    * ([[embeddingDriftSink]]) and serving follows without a restart. */
  def pcaProjectSink(modelPath: String, outPath: String, idCol: String,
      vecCol: String, outCol: String, p: Int, whiten: Boolean)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val model = graft.ops.Pca.modelFromFrame(spark.read.parquet(modelPath))
    val proj = graft.ops.Pca.project(batch, model, vecCol, outCol, p, whiten)
      .select(col(idCol), col(outCol))
    mergeBatchSink(outPath, Seq(idCol))(proj, batchId)
  }

  /** foreachBatch body for a streaming embedding-drift monitor — the
    * online form of [[graft.ops.Monitoring.embeddingDrift]]: each
    * micro-batch of embeddings is compared per-dimension against the
    * REFERENCE snapshot at `refPath` (the curated corpus the encoder
    * was validated on) and the (batch_id, dim) drift rows merge into
    * `driftPath` — an alerting query tails that table for z spikes.
    * The first batch whose mean shifts after an encoder rollout shows
    * up here before any downstream index degrades.
    *
    * Replay-idempotent: drift is a pure function of (reference, batch),
    * and the merge is keyed on (batch_id, dim) — a replayed batch
    * overwrites its own rows ([[mergeBatchSink]] discipline). The
    * reference is re-read per batch (stream-static shape): refresh the
    * snapshot between micro-batches and the monitor follows without a
    * restart. */
  def embeddingDriftSink(refPath: String, driftPath: String,
      vecCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val drift = graft.ops.Monitoring.embeddingDrift(
        spark.read.parquet(refPath), batch, vecCol)
      .withColumn("batch_id", lit(batchId))
    mergeBatchSink(driftPath, Seq("batch_id", "dim"))(drift, batchId)
  }

  /** foreachBatch body for a streaming perplexity quality gate — the
    * CCNet-style filter ([[graft.ops.Corpus.bigramLmScore]]) applied at
    * ingest time: each micro-batch is scored against the reference
    * slice at `refPath`, docs with average bigram negative-log-prob at
    * or under `maxAvgNll` merge into the accept table, everything else
    * into the reject table (scores kept for audit — a reject spike is
    * the first sign the upstream source drifted). The reference is
    * re-read per batch — the stream-static shape of
    * [[enrichBatchSink]]: a curator can refresh the reference slice
    * between micro-batches and the gate follows without a restart.
    *
    * Docs with fewer than two tokens produce no bigrams to judge;
    * `keepUnjudgeable` picks their side (default false — reject, the
    * conservative web-corpus default; their audit row carries a null
    * score, distinguishing "too short to judge" from "judged bad").
    *
    * Replay-idempotent: both sides go through [[mergeBatchSink]] KEYED
    * ON THE DOC ID — a doc's verdict is a pure function of (doc,
    * reference), so a replayed batch overwrites its own rows and the
    * tables converge no matter how often a batch re-delivers. At
    * cluster scale the model counts would be materialized once and
    * reused across batches (the q88 scale note); re-deriving from the
    * curated slice per micro-batch is the honest local form. */
  def qualityGateSink(refPath: String, acceptPath: String,
      rejectPath: String, idCol: String, textCol: String,
      maxAvgNll: Double, keepUnjudgeable: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val scores = graft.ops.Corpus.bigramLmScore(
      batch, spark.read.parquet(refPath), idCol, textCol)
    val judged = batch.join(
      scores.select(col(idCol), col("avg_nll")), Seq(idCol), "left")
    val keep = when(col("avg_nll").isNotNull, col("avg_nll") <= maxAvgNll)
      .otherwise(lit(keepUnjudgeable))
    mergeBatchSink(acceptPath, Seq(idCol))(
      judged.filter(keep).drop("avg_nll"), batchId)
    mergeBatchSink(rejectPath, Seq(idCol))(judged.filter(!keep), batchId)
  }

  /** foreachBatch body for streaming rate-anomaly monitoring — the
    * streaming face of [[graft.ops.Monitoring.rateSpikes]]: each
    * micro-batch's per-(key, hour) counts are merged into the counts
    * table at `countsPath`, the refreshed series is re-evaluated, and
    * currently-flagged spike hours go to `alert` (e.g. a log table, a
    * pager topic via its own sink).
    *
    * Replay-idempotent BY KEY, not by addition: hourly counts are
    * additive, but foreachBatch re-delivers a batch after failure and
    * adding its slice twice would double-count — so each batch's
    * partial counts are keyed (key, hour, batch_id) and OVERWRITTEN on
    * replay via [[mergeBatchSink]]; evaluation sums the slices. An
    * hour's count converges to the same total no matter how often any
    * batch replays. Compaction of the slice table is
    * [[graft.warehouse.Warehouse.compact]] in a quiet window. */
  /** Streaming heavy hitters: each micro-batch reduces to ONE bounded
    * Misra-Gries summary (the [[graft.functions.heavyHitters]]
    * TypedImperativeAggregate — m counters cross the exchange, never
    * the token stream), stored keyed by (token, batch_id) through the
    * checked merge sink so a replayed batch overwrites itself instead
    * of double counting. The live report is the MERGE of all stored
    * batch summaries per Agarwal et al.'s mergeable-summaries rule:
    * sum counters per token, subtract the (m+1)-th largest sum, keep
    * positives — the same rule the in-task merge uses, so the
    * guarantee survives: any token with true stream frequency >
    * N/(m+1) is in the report. The merge input is ≤ m × batches rows
    * (summary-scale, not stream-scale); only the single cut value
    * touches the driver. */
  def heavyHittersSink(summaryPath: String, textCol: Column, m: Int,
      report: DataFrame => Unit)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val slice = batch
      .agg(graft.functions.heavyHitters(textCol, m).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.count").as("n"))
      .withColumn("batch_id", lit(batchId))
    mergeBatchSink(summaryPath, Seq("token", "batch_id"))(slice, batchId)
    val merged = spark.read.parquet(summaryPath)
      .groupBy(col("token")).agg(sum(col("n")).as("n"))
    val top = merged.orderBy(col("n").desc, col("token")).limit(m + 1).collect()
    val cut = if (top.length > m) top(m).getAs[Long]("n") else 0L
    report(merged
      .select(col("token"), (col("n") - cut).as("n"))
      .filter(col("n") > 0)
      .orderBy(col("n").desc, col("token")))
  }

  /** Streaming quantile monitoring over an unbounded value stream: each
    * batch contributes its (g, e, sub) log-histogram bucket counts
    * (ops/Stats.sketchBuckets — the DDSketch-style mergeable sketch,
    * q145's batch op), stored keyed by (g, e, sub, batch_id) through
    * the checked merge sink so a replayed batch overwrites itself
    * instead of double counting. The live report merges buckets by
    * summing counts per (g, e, sub) — the any-order mergeability the
    * sketch exists for — and re-estimates p50/p90/p99 with the same
    * ≤1/subBuckets relative-error bound as the batch path. Merge input
    * is bucket-scale (≤ octaves × subBuckets × groups × batches rows),
    * never stream-scale; nothing touches the driver. */
  def quantileSketchSink(bucketsPath: String, groupCol: Column,
      valueCol: Column, subBuckets: Int,
      report: DataFrame => Unit)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val slice = graft.ops.Stats
      .sketchBuckets(batch, groupCol, valueCol, subBuckets)
      .withColumn("batch_id", lit(batchId))
    mergeBatchSink(bucketsPath, Seq("g", "e", "sub", "batch_id"))(slice, batchId)
    val merged = spark.read.parquet(bucketsPath)
      .groupBy(col("g"), col("e"), col("sub")).agg(sum(col("c")).as("c"))
    report(graft.ops.Stats.sketchQuantilesFromBuckets(merged, subBuckets))
  }

  /** Streaming distribution-drift monitor: a pinned REFERENCE bucket
    * sketch (ops/Stats.sketchBuckets over the blessed corpus, written
    * once) versus the accumulated stream — per batch, the stream's
    * bucket counts merge into the store (replay-safe via the checked
    * sink) and the binned two-sample KS distance
    * (ops/Stats.ksFromBuckets) against the reference feeds `alert`
    * as one (d_micro, drifted) row. The detector every feature
    * pipeline wants on day one: "today's values no longer look like
    * the training distribution", caught from the data itself. Bucket-
    * scale state and merge input; nothing stream-scale persists. */
  def ksDriftSink(referencePath: String, bucketsPath: String,
      valueCol: Column, subBuckets: Int, thresholdMicro: Long,
      alert: DataFrame => Unit)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val slice = graft.ops.Stats
      .sketchBuckets(batch, lit("s"), valueCol, subBuckets)
      .withColumn("batch_id", lit(batchId))
    mergeBatchSink(bucketsPath, Seq("g", "e", "sub", "batch_id"))(slice, batchId)
    val stream = spark.read.parquet(bucketsPath)
      .groupBy(col("e"), col("sub")).agg(sum(col("c")).as("c"))
    val ref = spark.read.parquet(referencePath)
      .groupBy(col("e"), col("sub")).agg(sum(col("c")).as("c"))
    alert(graft.ops.Stats.ksFromBuckets(ref, stream)
      .withColumn("threshold_micro", lit(thresholdMicro))
      .withColumn("drifted", col("d_micro") > lit(thresholdMicro)))
  }

  def spikeMonitorSink(countsPath: String, keyCol: Column, tsCol: Column,
      alert: DataFrame => Unit, trailHours: Int = 24, minHistory: Int = 12,
      z: Double = 3.0)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val slice = batch
      .groupBy(keyCol.as("key"), date_trunc("hour", tsCol).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("batch_id", lit(batchId))
    mergeBatchSink(countsPath, Seq("key", "hour", "batch_id"))(slice, batchId)
    val hourly = spark.read.parquet(countsPath)
      .groupBy(col("key"), col("hour")).agg(sum(col("n")).as("n"))
    alert(graft.ops.Monitoring.rateSpikesFromHourly(
      hourly, trailHours, minHistory, z)
      .filter(col("status") === "spike"))
  }

  /** Streaming CUSUM drift monitor — the live twin of q175
    * ([[graft.ops.Monitoring.cusumShift]]): per-batch (key, day) count
    * slices accumulate in a (key, day, batch_id)-keyed store (the
    * [[spikeMonitorSink]] replay discipline — a re-delivered batch
    * OVERWRITES its own slice, so counts can never double), and the
    * closed-form CUSUM recomputes over the merged daily series each
    * batch. `alert` receives the currently-flagged (key, day) rows —
    * the persistent level shifts a per-bucket spike gate misses.
    *
    * CUSUM state is deliberately NOT carried incrementally: S_i depends
    * on the whole prefix, and late data rewriting an old day must
    * re-propagate — recomputing from the (dimension × days)-sized store
    * is both cheaper than it sounds and the only way replays stay
    * exactly-once. */
  def cusumMonitorSink(countsPath: String, keyCol: Column, tsCol: Column,
      alert: DataFrame => Unit, thresholdPct: Int = 200)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val slice = batch
      .groupBy(keyCol.as("key"), to_date(tsCol).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("batch_id", lit(batchId))
    mergeBatchSink(countsPath, Seq("key", "day", "batch_id"))(slice, batchId)
    val daily = spark.read.parquet(countsPath)
      .groupBy(col("key"), col("day")).agg(sum(col("n")).as("n"))
    alert(graft.ops.Monitoring.cusumShift(daily, col("key"), col("day"),
      col("n"), thresholdPct)
      .filter(col("flagged")))
  }
}
