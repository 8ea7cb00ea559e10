package graft

import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{EventPipeline, FunnelAdvance, TypedEvent}

/** Streaming executor-loss chaos proof (round 10 — the streaming rung
  * above [[ChaosKill]]'s batch kernels): under a `local-cluster[...]`
  * master with REAL executor JVMs and the RocksDB state store, run the
  * GroupState funnel over a long micro-batch feed, `kill -9` one
  * executor mid-stream, and compare the batch-id-keyed merge sink to an
  * unkilled run of the same feed. Survival is the whole streaming
  * stack's fault-tolerance contract at once: failed tasks re-run on the
  * surviving executor, the RocksDB store reloads keyed state from the
  * CHECKPOINT files (a fresh executor has no provider cache — the same
  * path a real node loss takes), and the idempotent batch-id-keyed sink
  * absorbs any replayed micro-batch — so the sink must come out
  * byte-identical, exactly-once, with no lost state.
  *
  * Usage (see tools/chaos_kill.sh STREAMING note):
  *   SPARK_GRAFT_MASTER='local-cluster[2,4,3072]' \
  *   java ... graft.StreamChaos [batches=30] [rowsPerBatch=5000]
  *
  * Prints ONE JSON line:
  *   {"mode":"stream","baselineSec":..,"killedSec":..,"killedPid":..,
  *    "killedDuringRun":..,"completed":..,"hashMatch":..,"rows":..}
  *
  * The feed is synthesized deterministically (users cycle, stages walk
  * view→click→purchase with gaps), so both runs see identical batches.
  * The kill is placed by MICRO-BATCH COUNT (a StreamingQueryListener
  * fires it after half the baseline's batches) — the same
  * no-wall-clock-luck discipline as ChaosKill's stage-count placement. */
object StreamChaos {
  private val stages = Seq("view", "click", "purchase")

  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(30)
    val rowsPerBatch = args.lift(1).map(_.toInt).getOrElse(5000)

    val spark = Session.builder(defaultMaster = "local-cluster[2,4,3072]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    val appId = spark.sparkContext.applicationId
    val killedPid = new java.util.concurrent.atomic.AtomicLong(-1L)
    val killNanos = new java.util.concurrent.atomic.AtomicLong(-1L)
    def killOneExecutor(): Unit = {
      val victim = ProcessHandle.allProcesses()
        .filter(p => p.info().commandLine().map[Boolean](c =>
          c.contains("CoarseGrainedExecutorBackend") && c.contains(appId))
          .orElse(false))
        .findFirst()
      victim.ifPresent { p =>
        killedPid.set(p.pid())
        killNanos.set(System.nanoTime())
        p.destroyForcibly()
        ()
      }
    }

    // deterministic feed: user u's events walk the funnel in order with
    // interleaved noise users, timestamps strictly increasing per batch
    def batchRows(b: Int): Seq[TypedEvent] = (0 until rowsPerBatch).map { i =>
      val g = b.toLong * rowsPerBatch + i
      TypedEvent(g % 997, new Timestamp(1704100000000L + g * 1000),
        stages(((g / 997) % 3).toInt))
    }

    /** Feed all batches through funnelStream → mergeBatchSink; when
      * `killAtBatch` >= 0, kill one executor after that many completed
      * micro-batches. Returns (rows, sha256, batchesSeen). */
    def run(killAtBatch: Int): (Long, String, Int) = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-schaos-ckpt").toString
      val sink = java.nio.file.Files.createTempDirectory("graft-schaos-sink")
        .resolve("advances").toString
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0 &&
              done.incrementAndGet() == killAtBatch)
            new Thread(() => killOneExecutor()) { setDaemon(true); start() }
      }
      spark.streams.addListener(listener)
      val stream = MemoryStream[TypedEvent]
      val q = EventPipeline
        .funnelStream(stream.toDS(), stages, watermark = "10 minutes",
          horizonSeconds = 24 * 3600)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch((ds: org.apache.spark.sql.Dataset[FunnelAdvance], id: Long) =>
          EventPipeline.mergeBatchSink(sink, Seq("user_id", "stage_idx"))(ds.toDF(), id))
        .start()
      try {
        (0 until batches).foreach { b =>
          stream.addData(batchRows(b): _*)
          q.processAllAvailable()
        }
      } finally {
        q.stop()
        spark.streams.removeListener(listener)
      }
      val rows = spark.read.parquet(sink)
        .select("user_id", "stage_idx", "stage", "ts")
        .collect().sortBy(_.toString)
      val md = MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
      (rows.length.toLong, md.digest().map("%02x".format(_)).mkString, done.get())
    }

    val t0 = System.nanoTime()
    val (baseRows, baseHash, baseBatches) = run(killAtBatch = -1)
    val baselineSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val outcome =
      try Right(run(killAtBatch = (baseBatches / 2).max(1)))
      catch { case e: Throwable => Left(e) }
    val endNanos = System.nanoTime()
    val killedSec = (endNanos - t1) / 1e9
    val killedDuringRun = killNanos.get() > t1 && killNanos.get() < endNanos

    def esc(s: String) =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    val (completed, hashMatch, rows, err) = outcome match {
      case Right((n, h, _)) => (true, h == baseHash, n, "")
      case Left(e) =>
        (false, false, 0L,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    println(s"""{"mode":"stream","master":"${esc(spark.sparkContext.master)}",""" +
      s""""batches":$batches,"rowsPerBatch":$rowsPerBatch,""" +
      s""""baselineSec":${"%.1f".format(baselineSec)},""" +
      s""""killedSec":${"%.1f".format(killedSec)},"killedPid":${killedPid.get},""" +
      s""""killedDuringRun":$killedDuringRun,""" +
      s""""completed":$completed,"hashMatch":$hashMatch,"rows":$rows,""" +
      s""""baselineRows":$baseRows,"error":"${esc(err)}"}""")
    spark.stop()
    sys.exit(if (completed && hashMatch && killedDuringRun) 0 else 1)
  }
}
