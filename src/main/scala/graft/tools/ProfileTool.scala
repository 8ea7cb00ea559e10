package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev utility (optimization rounds): run named SparkEntry queries under
  * the bench's exact session shape (both build it with [[graft.Session]],
  * so cores and master follow the same environment contract) and split
  * each query's wall time into
  * Spark-job segments and the DRIVER GAPS between them — the breakdown
  * that says whether a slow query is task-bound (fix the plan) or
  * driver-bound (planning, collects, seed scans; fix the job count).
  *
  * Usage: runMain graft.tools.ProfileTool q223_knn_index_eval[,q99_pagerank]
  *   [sfDir]   (defaults to the graded sf0.1)
  */
object ProfileTool {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-job wall segments, collected by listener (events are async —
    // drained via the bridge before reading)
    case class Job(id: Int, desc: String, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0)
    case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      cpuMs: Long, shufReadMB: Double, shufWriteMB: Double, outRows: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    // stage → job from the job's DECLARED stage ids (round-15 ADVICE:
    // AQE overlaps jobs, so "latest open job" misattributed stages)
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(j.jobId, Job(j.jobId, d, j.time))
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val job = jobs.get(j.jobId); if (job != null) job.end = j.time
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        // the short name is the (useless) lambda callsite; the first
        // graft.* frame in the long-form details names the operator
        val where = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileTool"))
          .map(_.trim).getOrElse(i.name.takeWhile(_ != '\n'))
        stages.add(Stage(i.stageId, where, i.numTasks,
          (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
            .getOrElse(-1L),
          if (m == null) -1L else m.executorCpuTime / 1000000L,
          if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead / 1e6,
          if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten / 1e6,
          if (m == null) -1L else m.outputMetrics.recordsWritten))
        // containsKey first: a boxed-null get unboxes to 0 in Scala,
        // which would silently attribute orphan stages to job 0
        val owner = if (stageToJob.containsKey(i.stageId))
          Option(jobs.get(stageToJob.get(i.stageId))) else None
        owner.foreach { j => j.stages += 1; j.tasks += i.numTasks }
      }
    })
    // warmup identical to Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    for (name <- names) {
      jobs.clear()
      stages.clear()
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      val js = jobs.values().toArray(Array.empty[Job]).sortBy(_.start)
      println(f"== $name: $sec%.2f s, ${js.length} jobs ==")
      var cursor = wall0
      for (j <- js) {
        val gap = (j.start - cursor) / 1e3
        val dur = (j.end - j.start) / 1e3
        if (gap > 0.005)
          println(f"   [driver gap ${gap}%6.3f s]")
        println(f"   job ${j.id}%3d ${dur}%6.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(70)}")
        cursor = math.max(cursor, j.end)
      }
      val tail = (wall0 + (sec * 1000).toLong - cursor) / 1e3
      if (tail > 0.005) println(f"   [driver tail ${tail}%6.3f s]")
      println("   -- slowest stages --")
      stages.toArray(Array.empty[Stage]).sortBy(-_.wallMs).take(12)
        .foreach { st =>
          println(f"   stage ${st.id}%4d ${st.wallMs / 1e3}%6.2f s cpu=${st.cpuMs / 1e3}%6.1f tasks=${st.tasks}%3d " +
            f"shufR=${st.shufReadMB}%7.1f shufW=${st.shufWriteMB}%7.1f  ${st.name.take(60)}")
        }
    }
    spark.stop()
  }
}
