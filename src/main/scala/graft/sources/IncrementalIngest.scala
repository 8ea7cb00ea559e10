package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-incremental file ingest: process only landing-zone files not
  * yet recorded in a processed-files LEDGER — the batch twin of
  * Structured Streaming's file-source checkpoint, for pipelines that
  * run as scheduled batches (the reference's cron-style re-scrapes,
  * e.g. scripts/bills/bills_federal.py re-walking a download tree)
  * rather than always-on streams.
  *
  * Contract (the standard landing-zone pattern): files are IMMUTABLE
  * once landed. A name reappearing with a different size OR a newer
  * modification time means that contract broke upstream, and the op
  * raises rather than silently serving whichever version the ledger
  * happened to record (size alone would miss a same-length in-place
  * rewrite; a filesystem's mtime granularity — often 1 s — is the
  * accepted residual blind spot). Processing is at-least-once: the
  * ledger commit runs only after the caller's write succeeds, so a
  * crash in between re-processes that batch on the next run —
  * idempotent sinks ([[graft.warehouse.Warehouse.upsert]]) absorb
  * the replay.
  *
  * Scale shape: the ledger (one row per file EVER ingested — years of
  * batches) is never collected to the driver AND is scanned exactly
  * ONCE per run: a single left join classifies every on-disk file as
  * known / new / contract-violating, and only the new + violating rows
  * come back — bounded by the batch, not by table lifetime. The
  * directory listing itself is driver-side O(files-on-disk), the same
  * cost every file source pays. */
object IncrementalIngest {

  /** One landed file's identity as the ledger records it. */
  final case class Landed(file: String, bytes: Long, mtime: Long)

  /** Files under `inputDir` not yet in the ledger, name-sorted.
    * Hidden/underscore files are ignored (Spark sink metadata,
    * manifests). Raises on an immutability violation. */
  def newFiles(spark: SparkSession, inputDir: String,
      ledgerPath: String): Seq[Landed] = {
    import spark.implicits._
    val hPath = new Path(inputDir)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = fs.listStatus(hPath).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(s => Landed(s.getPath.getName, s.getLen, s.getModificationTime)).toSeq
    if (!fs.exists(new Path(ledgerPath)))
      return listed.sortBy(_.file)
    val ledger = spark.read.parquet(ledgerPath)
      .select(col("file"), col("bytes").as("__lb"), col("mtime").as("__lm"))
      .dropDuplicates("file")
    // ONE ledger scan: the left join classifies every on-disk file;
    // only new + violating rows are collected (batch-bounded)
    val flagged = listed.toDF("file", "bytes", "mtime")
      .join(ledger, Seq("file"), "left")
      .filter(col("__lb").isNull ||
        col("bytes") =!= col("__lb") || col("mtime") =!= col("__lm"))
      .collect()
    flagged.find(r => !r.isNullAt(3)).foreach { r =>
      throw new IllegalStateException(
        s"landing-zone file ${r.getString(0)} changed after ingest " +
          s"(${r.getLong(3)} → ${r.getLong(1)} bytes, " +
          s"mtime ${r.getLong(4)} → ${r.getLong(2)}) — " +
          "landed files are immutable; republish under a new name")
    }
    flagged.map(r => Landed(r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_.file)
  }

  /** Record files as processed (call AFTER the downstream write
    * succeeds — the at-least-once boundary). Append-only: one small
    * parquet file per batch; compact the ledger with
    * [[graft.warehouse.Warehouse.compact]] when batches accumulate
    * (in a window with no ingest running — compact is single-writer). */
  def commit(spark: SparkSession, ledgerPath: String,
      files: Seq[Landed]): Unit = {
    import spark.implicits._
    if (files.nonEmpty)
      files.toDF().write.mode("append").parquet(ledgerPath)
  }

  /** The full sandwich: read only the new files (explicit path list —
    * a stray concurrent writer can't ride in), hand the frame to
    * `write`, and commit the ledger iff it succeeds. Returns the
    * ingested file names (empty = nothing new, `write` not called). */
  def ingest(spark: SparkSession, inputDir: String, ledgerPath: String)(
      read: Seq[String] => DataFrame)(write: DataFrame => Unit): Seq[String] = {
    val nf = newFiles(spark, inputDir, ledgerPath)
    if (nf.nonEmpty) {
      val paths = nf.map(f => new Path(inputDir, f.file).toString)
      write(read(paths))
      commit(spark, ledgerPath, nf)
    }
    nf.map(_.file)
  }
}
