package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge ("upsert") semantics of the reference's generic sink,
  * re-expressed as set-oriented batch operations
  * (reference: scripts/database/database.py:52-73 — INSERT … ON CONFLICT
  * (pks) DO UPDATE SET all non-PK columns, `created_at` excluded from
  * overwrite).
  *
  * Scale notes: both operators are single-shuffle on the key columns.
  * `mergeByKey` is the lazy operator, for callers with no materialized
  * batch (the `foreachBatch` body for incremental refresh, q08); at
  * cluster scale the existing side would be a bucketed table so the join
  * is shuffle-free on the big side. A materialized batch upserts through
  * [[graft.pipelines.CivicPipeline.ingest]] instead, which joins nothing:
  * it collects the batch's keys to the driver and filters the table by
  * them, so that path is bounded by the batch's key set fitting in
  * driver memory.
  */
object Warehouse {

  /** Checked tmp→live directory swap for parquet table generations.
    * `tmpPath` (a fully-written new generation) replaces `tablePath`,
    * parking the previous generation at `tablePath + ".old"`. Every FS
    * step is CHECKED: the unchecked `java.io.File` spelling silently lost
    * every batch after the second (non-recursive `delete()` on the
    * non-empty `.old` returned false, both renames then no-op'd, and the
    * table stayed on the previous generation with no error). Hadoop
    * rename/delete report failure by returning false — raise instead of
    * eating data. A process killed between the two renames leaves the
    * previous generation at `.old`; [[liveGeneration]] renames it back
    * before the next merge reads. Single-FS local semantics; an
    * object-store deployment would version the table instead of
    * renaming. */
  def checkedSwapInto(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, tmpPath: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val tmp = new org.apache.hadoop.fs.Path(tmpPath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new org.apache.hadoop.fs.Path(tablePath + ".old")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new IllegalStateException(s"could not clear $old")
    if (fs.exists(hPath) && !fs.rename(hPath, old))
      throw new IllegalStateException(s"could not move $tablePath aside")
    if (!fs.rename(tmp, hPath)) {
      val rolledBack = fs.rename(old, hPath)
      throw new IllegalStateException(
        s"could not move $tmpPath into $tablePath — " +
          (if (rolledBack) "previous generation restored"
           else s"ROLLBACK FAILED, previous generation is at $old"))
    }
  }

  /** Whether `tablePath` holds a table generation, after finishing an
    * interrupted [[checkedSwapInto]] first: a process that died between
    * its two renames left the table absent and the previous generation
    * at `tablePath + ".old"`. That generation is renamed back before the
    * caller reads; otherwise the next batch would be written as the
    * whole table and its swap would delete the only copy of the old
    * rows. */
  def liveGeneration(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new org.apache.hadoop.fs.Path(tablePath + ".old")
    if (!fs.exists(hPath) && fs.exists(old) && !fs.rename(old, hPath))
      throw new IllegalStateException(
        s"could not restore the previous generation from $old")
    fs.exists(hPath)
  }

  /** Last-writer-wins merge of `incoming` into `existing` on `keys`.
    * Columns listed in `preserve` (e.g. `created_at`) keep the existing
    * row's value when the key already exists. Schemas must match. */
  def mergeByKey(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      preserve: Seq[String] = Seq.empty): DataFrame =
    existing.join(incoming.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(withPreserved(existing, incoming, keys, preserve))

  /** `incoming` with each column of `preserve` that both sides carry
    * taken from the `existing` row of the same key, where there is one.
    * Without such a column, `incoming` itself. */
  def withPreserved(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      preserve: Seq[String]): DataFrame = {
    val pres = preserve.filter(c => existing.columns.contains(c) && incoming.columns.contains(c))
    if (pres.isEmpty) incoming
    else {
      val old = existing.select((keys ++ pres).map(c => col(c).as(s"__old_$c")): _*)
      val joinCond = keys.map(k => incoming(k) === old(s"__old_$k")).reduce(_ && _)
      val joined = incoming.join(old, joinCond, "left")
      val cols = incoming.columns.map { c =>
        if (pres.contains(c)) coalesce(col(s"__old_$c"), incoming(c)).as(c)
        else incoming(c).as(c)
      }
      joined.select(cols.toIndexedSeq: _*)
    }
  }

  /** Write a frame as a bucketed (+ per-bucket sorted) managed table —
    * the cluster deployment of the warehouse side of [[mergeByKey]]:
    * a bucketed scan already satisfies the join's hashpartitioning
    * requirement, so the BIG side of every keyed merge/lookup joins
    * WITHOUT an exchange (only the small incoming batch shuffles to
    * match). BucketedMergeSpec asserts the exchange-free plan. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)

  /** Build a type-2 slowly-changing dimension from a change log: one
    * output row per (key, attribute-state run) with a half-open validity
    * interval — `valid_from` = first log row of the run, `valid_to` =
    * the next run's start (null on the current run, which also carries
    * `is_current`). Consecutive log rows whose tracked attributes are
    * unchanged collapse into one run, so a chatty upstream (the
    * reference re-scrapes whole states per run) doesn't inflate the
    * dimension. The temporal generalization of [[mergeByKey]]'s
    * last-writer-wins: instead of keeping only the latest row, every
    * historical state stays queryable with an as-of predicate
    * (`valid_from <= t AND (valid_to IS NULL OR t < valid_to)` — or
    * [[graft.ops.RangeJoin.binnedIntervalJoin]] when the probe side is
    * big).
    *
    * Scale shape: two windows over the SAME (key, ts, seq) ordering —
    * one partitioning exchange, each key's log processed independently.
    * `seqCol` breaks timestamp ties deterministically (ingest sequence
    * numbers, event ids). */
  def scd2FromLog(log: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "scd2FromLog needs at least one tracked attribute")
    val reserved = Set("__prev", "valid_from", "valid_to", "is_current")
    require(!log.columns.exists(reserved),
      s"scd2FromLog reserves columns ${reserved.mkString(", ")}")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val attrs = struct(attrCols.map(col): _*)
    val runs = log
      .withColumn("__prev", lag(attrs, 1).over(w))
      // null-safe: a run whose attrs are all null still collapses
      .filter(col("__prev").isNull || !(col("__prev") <=> attrs))
    runs
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((Seq(keyCol) ++ attrCols ++ Seq("valid_from", "valid_to", "is_current"))
        .map(col): _*)
  }

  /** Incrementally apply a batch of new change-log rows to an existing
    * SCD2 dimension (built by [[scd2FromLog]]): current rows whose key
    * sees a genuinely new state get closed at the first change, new runs
    * open, and a change that matches the key's current state collapses
    * into the open run (no spurious version). Closed historical rows are
    * immutable and pass through untouched — at 100 TB the dimension's
    * history partition is never rewritten, only the thin current slice
    * joins the batch.
    *
    * Contract (the standard incremental assumption): every change for a
    * key must be at-or-after that key's current `valid_from` —
    * late-arriving history would require rewriting closed rows, which is
    * [[scd2FromLog]]'s job on a corrected log, not a merge's.
    * Equivalence `scd2Merge(scd2FromLog(log1), log2) ==
    * scd2FromLog(log1 ++ log2)` under that contract is pinned in
    * Scd2Spec.
    *
    * Implementation: the current slice re-enters [[scd2FromLog]] as a
    * pseudo-log row (ts = its ORIGINAL valid_from, seq = null, which
    * sorts before any real change at the same instant), unioned with the
    * batch — run collapse and interval chaining then come out of the one
    * tested kernel instead of a second hand-written window stack. */
  def scd2Merge(dim: DataFrame, changes: DataFrame, keyCol: String,
      tsCol: String, seqCol: String, attrCols: Seq[String]): DataFrame = {
    val closed = dim.filter(!col("is_current"))
    val seqType = changes.schema(seqCol).dataType
    val currentAsLog = dim.filter(col("is_current"))
      .select((Seq(col(keyCol), col("valid_from").as(tsCol),
        lit(null).cast(seqType).as(seqCol)) ++ attrCols.map(col)): _*)
    val batchLog = changes
      .select((Seq(col(keyCol), col(tsCol), col(seqCol)) ++ attrCols.map(col)): _*)
    val rebuilt = scd2FromLog(currentAsLog.unionByName(batchLog),
      keyCol, tsCol, seqCol, attrCols)
    closed.unionByName(rebuilt)
  }

  /** Diff two snapshots of a keyed table: one row per key whose content
    * changed between versions, with status `added` / `removed` /
    * `changed` — the release-audit op a corpus pipeline runs before
    * shipping version N+1 ("what did this refresh actually do"), and the
    * input to an incremental downstream rebuild (reprocess only
    * added+changed keys). Unchanged keys are omitted: at 100 TB the diff
    * output is proportional to the CHANGE volume, not the corpus.
    *
    * Content equality hashes each compare column SEPARATELY (null is
    * a fixed marker) before combining: a naive md5 over
    * separator-concatenated values has two false-NEGATIVE holes a
    * release audit cannot have, concat_ws silently SKIPS nulls so a
    * null-position swap across columns hashes identically, and a value
    * containing the separator aliases a column boundary. Per-column md5
    * yields fixed-width hex tokens no value can forge; the marker "n"
    * cannot collide with hex. Engine-portable, so the op stays
    * DuckDB-oracle-checkable.
    * Scale shape: one full-outer hash join on the key; only
    * (key, 16-byte hash) per side would cross the exchange at cluster
    * scale if the caller pre-projects, and the join is AQE-skew-safe. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    def hashed(df: DataFrame, side: String) = df.select(col(keyCol),
      md5(concat_ws("|",
        compareCols.map(c => coalesce(md5(col(c).cast("string")), lit("n"))): _*))
        .as(s"__h_$side"))
    hashed(oldSnap, "old").join(hashed(newSnap, "new"), Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("__h_old").isNull, "added")
          .when(col("__h_new").isNull, "removed")
          .when(col("__h_old") =!= col("__h_new"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(keyCol), col("status"))
  }

  /** Compact a parquet table directory's files into ≈`targetBytes`
    * outputs. Small-file proliferation is the silent warehouse killer
    * at 100 TB: every per-batch merge/append ([[graft.streaming
    * .EventPipeline.mergeBatchSink]], streaming ingest) leaves another
    * file generation behind, downstream scans pay per-file open+footer
    * cost, and eventually the LISTING is the bottleneck. Compaction
    * rewrites the same rows into size-targeted files; output count
    * derives from the actual on-disk footprint (parquet→parquet keeps
    * roughly the input compression ratio), so the op self-tunes as the
    * table grows.
    *
    * `sortCol`: compaction is exactly the moment to (re)establish
    * intra-file clustering — pass the z-order key from
    * [[graft.ops.Layout]] (or a range key) and files come out
    * range-partitioned + internally sorted, restoring min/max pruning
    * that generations of unsorted appends destroyed. Without it, a
    * plain even repartition (NOT coalesce: coalesce merges adjacent
    * partitions without a shuffle and inherits their skew — even file
    * sizes are the point of the exercise).
    *
    * Loss-proof by construction: input rows are counted ON the write
    * job (`observe` — no extra scan), the written output is counted
    * from parquet metadata, the part listing is re-checked against the
    * entry snapshot (a CONCURRENT append would otherwise ride into the
    * discarded generation unseen by the row proof — single-writer is
    * the contract, and violating it aborts loudly), and every rename's
    * boolean result is checked (Hadoop reports failure by returning
    * false; an unchecked swap could delete the only live generation).
    * Only then is the pre-compaction generation deleted — keeping a
    * second copy of a table-sized directory is the one thing a
    * compactor of small-file bloat must not do. Between the two renames
    * the table is briefly absent (single-FS batch semantics; a failed
    * second rename rolls back).
    * Returns (filesBefore, filesAfter). */
  def compact(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      targetBytes: Long, sortCol: Option[String] = None): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(hPath).filter(s =>
      s.isFile && s.getPath.getName.startsWith("part-"))
    require(parts.nonEmpty, s"no part files to compact under $tablePath")
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val data = spark.read.parquet(tablePath)
    val shaped = sortCol match {
      case Some(c) =>
        data.repartitionByRange(nOut, col(c)).sortWithinPartitions(col(c))
      case None => data.repartition(nOut)
    }
    val obs = org.apache.spark.sql.Observation()
    val tmpPath = new org.apache.hadoop.fs.Path(tablePath + ".compact-tmp")
    def abort(reason: String): Nothing = {
      fs.delete(tmpPath, true)
      throw new IllegalStateException(s"$reason — aborted, $tablePath untouched")
    }
    shaped.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(tmpPath.toString)
    val inRows = obs.get("rows").asInstanceOf[Long]
    val outRows = spark.read.parquet(tmpPath.toString).count()
    if (inRows != outRows)
      abort(s"compaction wrote $outRows rows for $inRows inputs")
    // single-writer check: a part file appended AFTER the snapshot read
    // (a concurrent mergeBatchSink/ingest batch) would ride into the old
    // generation and be deleted — its rows are in neither count, so the
    // row proof above cannot see it. Abort loudly instead of losing it;
    // compaction belongs in the ingest quiet window.
    val partsNow = fs.listStatus(hPath).filter(s =>
      s.isFile && s.getPath.getName.startsWith("part-"))
      .map(s => (s.getPath.getName, s.getLen)).sortBy(_._1).toSeq
    if (partsNow != parts.map(s => (s.getPath.getName, s.getLen)).sortBy(_._1).toSeq)
      abort("table changed during compaction (concurrent writer?)")
    val outFiles = fs.listStatus(tmpPath)
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    // Hadoop rename reports failure by RETURNING FALSE, not throwing —
    // an unchecked swap could delete the only live generation. Between
    // the two renames the table is briefly absent (single-FS batch
    // semantics; snapshot-isolated formats commit via metadata instead);
    // a failed second rename rolls the original back.
    val old = new org.apache.hadoop.fs.Path(tablePath + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(hPath, old))
      abort(s"could not move $tablePath aside")
    if (!fs.rename(tmpPath, hPath)) {
      val rolledBack = fs.rename(old, hPath)
      fs.delete(tmpPath, true)
      throw new IllegalStateException(
        s"could not move compacted data into $tablePath — " +
          (if (rolledBack) "original restored"
           else s"ROLLBACK FAILED, original is at $old"))
    }
    fs.delete(old, true)
    (parts.length, outFiles)
  }

  /** Algebraic aggregate STATE for incremental view maintenance: per
    * key, (n, sum, min, max) over an integral metric — every component
    * distributive, so states from disjoint slices merge exactly
    * ([[mergeAggState]]) and the maintained view provably equals a full
    * recompute (the q161 oracle IS that proof). AVG and friends derive
    * from the state at read time; non-distributive aggs (exact
    * distinct, median) need their own mergeable structures (HLL /
    * [[graft.ops.Stats.sketchBuckets]]) — this op refuses nothing but
    * carries only what merges. */
  def aggState(df: DataFrame, keyCols: Seq[String],
      valueCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "aggState needs at least one key column")
    df.select(keyCols.map(col) :+ valueCol.cast("long").as("__v"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("sum_v"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))
  }

  /** Apply a CDC log to its final state: per key, the HIGHEST-sequence
    * operation wins and a terminal delete removes the key — the
    * upsert-with-tombstones semantics a replicated table's change feed
    * needs (K1's keyed upsert, plus the delete channel it lacked).
    * The winner is a map-side partial argmax over struct(seq, row) —
    * one row per key crosses the exchange, never the full log — which
    * requires `seqCol` to totally order each key's ops; equal
    * sequences would tie-break on payload bytes, so they're rejected
    * loudly via a woven guard, not silently last-writer-wins. */
  def applyCdc(log: DataFrame, keyCol: String, seqCol: String,
      opCol: String, deleteOp: String = "D"): DataFrame = {
    val payload = log.columns.filterNot(_ == keyCol)
    log.groupBy(col(keyCol))
      .agg(max(struct(col(seqCol).as("__seq"),
        struct(payload.map(col): _*).as("__row"))).as("__w"),
        count(lit(1)).as("__n"),
        countDistinct(col(seqCol)).as("__nd"))
      .filter(when(col("__n") === col("__nd"), lit(true))
        .otherwise(raise_error(concat(
          lit("applyCdc: duplicate sequence for key "),
          col(keyCol).cast("string")))))
      .select(col(keyCol), col("__w.__row").as("__row"))
      .select(col(keyCol), col("__row.*"))
      .filter(col(opCol) =!= deleteOp)
  }

  /** Merge two (or, by folding, any number of) [[aggState]] frames:
    * counts and sums add, min/max fold — one union + one partial-agg
    * rollup, never a rescan of the base data. */
  def mergeAggState(state: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
}
