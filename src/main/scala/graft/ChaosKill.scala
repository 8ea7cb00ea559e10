package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Pin}

/** Executor/worker-loss chaos proof for the checkpoint modes (round 10,
  * the property [[graft.ops.Pin]] exists for but had never exercised;
  * widened round 11 past the pinned iterative kernels): under a
  * multi-process master, run a kernel, `kill -9` one executor JVM (or
  * one standalone WORKER process) mid-run, and compare the output to an
  * unkilled baseline run.
  *
  * Kernels × expected verdicts:
  *  - `pr` / `cc` (pinned iterative fixed points):
  *      mode=reliable (`spark.graft.checkpoint.dir` set) must complete
  *      bit-identical — lost tasks recompute from the shared-filesystem
  *      checkpoint files. mode=local (localCheckpoint default) MUST
  *      FAIL — pinned frames live only in executor block stores, so the
  *      negative control proves the kill actually bites.
  *  - `shuffle` (round 11): a wide non-iterative join + aggregation
  *      with ZERO pinned frames — the shape a real cluster loses
  *      executors in most often. Expected to survive in EITHER mode:
  *      lost shuffle output triggers ordinary FetchFailed stage
  *      re-execution, no checkpoint involved. The lane runs it in
  *      local mode to prove exactly that.
  *  - `civic` (round 11): the q219 multi-stage civic composite
  *      (multi-source ingest → entity resolution → spatial join →
  *      warehouse merge, three pinned frames). Reliable mode must
  *      survive bit-identical — the closest thing the surface has to a
  *      production pipeline losing an executor mid-flight.
  *
  * Kill targets (round 11): `executor` kill -9s one
  * CoarseGrainedExecutorBackend JVM of THIS app (the standalone worker
  * then re-provisions a replacement); `worker` kill -9s a standalone
  * `deploy.worker.Worker` PROCESS itself — its executor self-terminates
  * via WorkerWatcher and the master can NOT re-provision on the dead
  * worker, so the job must finish on the survivor's half capacity. The
  * worker target needs a real `spark://` standalone master
  * (`local-cluster` runs its workers in-process with the driver);
  * tools/chaos_kill.sh stands one up. Worker victims are filtered on
  * SPARK_GRAFT_WORKER_MARK (a unique --work-dir prefix) so only the
  * lane's own cluster is ever touched.
  *
  * Usage (see tools/chaos_kill.sh for the full lane):
  *   SPARK_GRAFT_MASTER='local-cluster[2,4,3072]' \
  *   java ... graft.ChaosKill <sfDir> <reliable|local> [iterations] \
  *     [pr|cc|shuffle|civic] [executor|worker]
  *
  * Prints ONE JSON line:
  *   {"mode":..,"kernel":..,"target":..,"baselineSec":..,"killedSec":..,
  *    "completed":..,"hashMatch":..,"killedPid":..,"rows":..,"error":..}
  *
  * The kill is placed by STAGE COUNT, not wall-clock: the first (cold)
  * run pays parquet-footer/codegen/broadcast warmup that the second
  * doesn't, so a timer calibrated on the baseline can fire after the
  * warm killed run already finished — a silent no-op "proof". Counting
  * baseline stages and killing when the killed run completes half as
  * many lands the kill mid-run deterministically; the verdict
  * additionally REQUIRES the kill to have happened while the run was in
  * flight. Each run registers a FRESH listener, drains the (async)
  * listener bus, and removes it before the counter is read — a shared
  * listener with a reset counter let baseline events still in flight
  * bleed into the killed run's count and fire the kill early
  * (round-10 ADVICE).
  */
object ChaosKill {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = args(1)
    require(mode == "reliable" || mode == "local",
      s"mode must be reliable|local, got $mode")
    val iterations = args.lift(2).map(_.toInt).getOrElse(20)
    val kernel = args.lift(3).getOrElse("pr")
    require(Set("pr", "cc", "shuffle", "civic", "knn")(kernel),
      s"kernel must be pr|cc|shuffle|civic|knn, got $kernel")
    val target = args.lift(4).getOrElse("executor")
    require(target == "executor" || target == "worker",
      s"target must be executor|worker, got $target")
    // knn is RELIABLE-ONLY: its index build runs eager seed-collect and
    // Lloyd stages at query-construction time, so a local-mode kill
    // armed at half the baseline stage count usually lands in those
    // eager stages and is survived by ordinary task retry — the
    // negative control would then report a spurious harness failure
    // (tools/chaos_kill.sh measured exactly this and runs knn
    // reliable-only; the pr/cc kernels carry the local negative
    // control instead)
    require(kernel != "knn" || mode == "reliable",
      "kernel=knn supports mode=reliable only — a local-mode kill " +
        "lands in the kernel's eager index-build stages and survives " +
        "by task retry, proving nothing (use pr/cc for the negative " +
        "control)")

    val spark = Session.builder(defaultMaster = "local-cluster[2,4,3072]")
      .config("spark.sql.shuffle.partitions", "16")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (mode == "reliable")
      spark.conf.set(Pin.DirConf,
        sys.env.getOrElse("SPARK_GRAFT_CKPT", "/tmp/graft_ckpt_chaos"))

    val appId = spark.sparkContext.applicationId

    // q99's trade graph: symmetrized customer⇄supplier edges
    def tradeEdges() = graft.queries.GraphQueries.tradeGraph(spark, sfDir)

    def run(): (Long, String) = {
      import graft.Tables.t
      val out = kernel match {
        case "cc" =>
          graft.ops.Dedup.connectedComponents(
              tradeEdges().select(col("src").as("a_id"), col("dst").as("b_id")))
            .orderBy(col("id"))
        case "pr" =>
          Graph.pageRank(tradeEdges(), "src", "dst", iterations,
              assumeSimple = true)
            .orderBy(col("node"))
        case "shuffle" =>
          // wide non-iterative shuffle chain, zero pinned frames:
          // lineitem⋈orders (shuffle join), two-key aggregation
          // (another exchange), global sort (a third) — every stage's
          // map output is at risk when the executor dies, and recovery
          // is Spark's ordinary FetchFailed stage re-execution
          // revenue in integer cents, rounded PER ROW before the sum: a
          // double sum's value depends on partial-aggregation order, and
          // a kill reshuffles that order — a decimal cast of the final
          // double can flip at a rounding boundary and fail the
          // hash-identity verdict for execution (not correctness)
          // reasons (flaked exactly once in round 12; integer sums are
          // order-free, the repo-wide oracle discipline)
          t(spark, sfDir, "lineitem")
            .join(t(spark, sfDir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_custkey"), col("l_returnflag"))
            .agg(
              sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
                * 100 + lit(0.5)).cast("long")).as("revenue_cents"),
              countDistinct(col("l_suppkey")).as("supps"),
              max(col("o_orderdate")).as("last_order"))
            .orderBy(col("o_custkey"), col("l_returnflag"))
        case "civic" =>
          val s = graft.pipelines.CivicE2e.summary(spark)
          s.orderBy(s.columns.map(col).toSeq: _*)
        case "knn" =>
          // the q221 pipeline (round 12, mandate #4: the composed
          // memory-pressure x checkpoint-I/O x kill interaction at
          // sf1): IVF-blocked self-kNN -> mutual edges. The kernel's
          // one pinned frame (the cell-assignment aggregate) rides
          // Pin, so reliable mode must recover it from checkpoint
          // files. Reliable-only (see the arg-parse require): a
          // local-mode kill lands in the eager index-build stages.
          graft.ops.Similarity.mutualTopK(
              graft.ops.Similarity.ivfSelfTopK(
                t(spark, sfDir, "embeddings"), "vec_id", "embedding",
                k = 4, nProbe = 6, kmeansIters = 2))
            .orderBy(col("a_id"), col("b_id"))
      }
      val rows = out.collect()
      val md = MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
      (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
    }

    val killedPid = new java.util.concurrent.atomic.AtomicLong(-1L)
    val killNanos = new java.util.concurrent.atomic.AtomicLong(-1L)
    def killOne(): Unit = {
      val mark = sys.env.getOrElse("SPARK_GRAFT_WORKER_MARK", "")
      val victim = ProcessHandle.allProcesses()
        .filter(p => p.info().commandLine().map[Boolean] { c =>
          if (target == "worker")
            c.contains("org.apache.spark.deploy.worker.Worker") &&
              mark.nonEmpty && c.contains(mark)
          else
            c.contains("CoarseGrainedExecutorBackend") && c.contains(appId)
        }.orElse(false))
        .findFirst()
      victim.ifPresent { p =>
        killedPid.set(p.pid())
        killNanos.set(System.nanoTime())
        p.destroyForcibly()
        ()
      }
    }

    // fresh listener per run: count stages, optionally kill at stage N;
    // drained and REMOVED before the counter is read, so no events from
    // one run ever land on another's account
    def withStageCount[T](killAt: Int)(body: => T): (T, Int) = {
      val seen = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (seen.incrementAndGet() == killAt)
            new Thread(() => killOne()) { setDaemon(true); start() }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = body
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        (r, seen.get())
      } finally spark.sparkContext.removeSparkListener(l)
    }

    // ---- baseline (unkilled; also counts the workload's stages) ----
    val t0 = System.nanoTime()
    val ((baseRows, baseHash), baselineStages) =
      withStageCount(Int.MaxValue)(run())
    val baselineSec = (System.nanoTime() - t0) / 1e9

    // ---- killed run: arm a fresh listener at half the baseline's stages ----
    val killAt = (baselineStages / 2).max(1)
    val t1 = System.nanoTime()
    val (outcome, _) = withStageCount(killAt)(
      try Right(run())
      catch { case e: Throwable => Left(e) })
    val endNanos = System.nanoTime()
    val killedSec = (endNanos - t1) / 1e9
    val killedDuringRun =
      killNanos.get() > t1 && killNanos.get() < endNanos

    def esc(s: String) =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    val (completed, hashMatch, rows, err) = outcome match {
      case Right((n, h)) => (true, h == baseHash, n, "")
      case Left(e) =>
        (false, false, 0L,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    // one machine-readable line for the lane script
    println(s"""{"mode":"$mode","kernel":"$kernel","target":"$target",""" +
      s""""master":"${esc(spark.sparkContext.master)}",""" +
      s""""iterations":$iterations,"baselineSec":${"%.1f".format(baselineSec)},""" +
      s""""baselineStages":$baselineStages,"killAtStage":$killAt,""" +
      s""""killedSec":${"%.1f".format(killedSec)},"killedPid":${killedPid.get},""" +
      s""""killedDuringRun":$killedDuringRun,""" +
      s""""completed":$completed,"hashMatch":$hashMatch,"rows":$rows,""" +
      s""""baselineRows":$baseRows,"error":"${esc(err)}"}""")
    spark.stop()
    // exit code encodes the EXPECTED outcome per kernel × mode — and in
    // ALL cases the kill must verifiably land mid-run, or the
    // experiment proved nothing:
    //   pr/cc/knn reliable: survive bit-identical (checkpoint recovery)
    //   pr/cc local: MUST fail (negative control — kill bites)
    //   knn local: rejected at arg-parse above (kills land in the
    //     eager index-build stages and survive by task retry — see the
    //     require and tools/chaos_kill.sh)
    //   shuffle (either mode): survive (plain task re-execution)
    //   civic (reliable): survive bit-identical
    val expectSurvive = kernel == "shuffle" || mode == "reliable"
    val ok =
      if (expectSurvive) completed && hashMatch && killedDuringRun
      else !completed && killedDuringRun
    sys.exit(if (ok) 0 else 1)
  }
}
