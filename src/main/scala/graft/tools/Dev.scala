package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Session, SparkEntry}
import graft.ops.QueryMetrics

/** Dev entry point for optimization rounds. Every mode builds the bench's
  * session with [[graft.Session]], so cores and master follow the same
  * environment contract; `sfDir` defaults to [[graft.Bench.DefaultSfDir]].
  *
  * {{{
  * runMain graft.tools.Dev explain <q> [sfDir] [--static]
  * runMain graft.tools.Dev plans <tag> <outDir> <q,...> [sfDir]
  * runMain graft.tools.Dev profile <q,...> [sfDir]
  * }}}
  *
  *  - `explain` runs the query and prints its executed plan; it exits 1
  *    when the query fails. `--static` prints the pre-AQE plan without
  *    running anything.
  *  - `plans` writes `.explain("formatted")` of each query's returned
  *    frame, then of every plan its construction executed eagerly (pins,
  *    collects), to `<outDir>/<q>_<tag>.txt`: the plan-evidence files
  *    the optimization rounds diff (plans/r15/...).
  *  - `profile` runs each query into the bench's noop sink after the
  *    bench's warm-up, and splits its wall time into Spark jobs and the
  *    driver gaps between them — task-bound (fix the plan) or
  *    driver-bound (planning, collects, seed scans; fix the job count) —
  *    then lists its slowest stages.
  */
object Dev {
  private val Usage = "usage: Dev explain <q> [sfDir] [--static] | " +
    "plans <tag> <outDir> <q,...> [sfDir] | profile <q,...> [sfDir]"

  def main(args: Array[String]): Unit = {
    // flags must not be consumed as positionals: `explain q18 --static`
    // otherwise reads "--static" as the sfDir path
    val pos = args.filterNot(_.startsWith("--"))
    def sfDir(i: Int) = pos.lift(i).getOrElse(Bench.DefaultSfDir)
    def names(i: Int) = pos(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val mode: SparkSession => Boolean = pos.headOption match {
      case Some("explain") if pos.length > 1 =>
        explain(_, pos(1), sfDir(2), args.contains("--static"))
      case Some("plans") if pos.length > 3 =>
        s => { plans(s, pos(1), Path.of(pos(2)), names(3), sfDir(4)); true }
      case Some("profile") if pos.length > 1 =>
        s => { profile(s, names(1), sfDir(2)); true }
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel(if (pos(0) == "profile") "WARN" else "ERROR")
    val ok = try mode(spark) finally spark.stop()
    if (!ok) sys.exit(1) // callers check the status
  }

  private def explain(spark: SparkSession, name: String, sfDir: String,
      static: Boolean): Boolean = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (static) {
      // the shape Catalyst picked from size ESTIMATES (a misestimated
      // broadcast shows here even when running the query would blow the
      // driver)
      println(df.queryExecution.sparkPlan.toString)
      true
    } else {
      // execute the frame's own plan so AQE finalizes the plan printed
      // (`df.count()` would run a different plan, an aggregate over df),
      // without buffering rows on the driver; on failure STILL print the
      // plan — the materialized QueryStages show which exchange was
      // being built when it died
      val r = scala.util.Try(df.queryExecution.toRdd.count())
      println(df.queryExecution.executedPlan.toString)
      r.failed.foreach(e => println(s"EXECUTION FAILED: $e"))
      r.isSuccess
    }
  }

  private def plans(spark: SparkSession, tag: String, outDir: Path,
      names: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(outDir)
    for (name <- names) {
      val (df, rec) = QueryMetrics.capture(spark)(SparkEntry.queries(name)(spark, sfDir))
      // queries that pin their result execute the interesting plan
      // EAGERLY at construction; without those the dump is a
      // Sort-over-checkpoint stub
      val eager = rec.executions.map(_.qe.explainString(FormattedMode)).distinct
        .zipWithIndex.map { case (p, i) => s"== Eagerly executed at construction ($i) ==\n$p" }
      val txt = (df.queryExecution.explainString(FormattedMode) +: eager).mkString("\n")
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
      println(s"wrote ${name}_$tag.txt (${txt.linesIterator.length} lines)")
    }
  }

  private def profile(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    Bench.warmUp(spark, sfDir)
    for (name <- names) {
      val ((wall0, sec), rec) = QueryMetrics.capture(spark) {
        val (wall0, t0) = (System.currentTimeMillis(), System.nanoTime())
        Bench.noopWrite(SparkEntry.queries(name)(spark, sfDir))
        (wall0, (System.nanoTime() - t0) / 1e9)
      }
      // a stage belongs to the last job that declared it (AQE overlaps
      // jobs, so "latest open job" misattributes stages)
      val owner = rec.jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
      val done = rec.stages.groupBy(st => owner.get(st.id))
      val jobs = rec.jobs.sortBy(_.start)
      println(f"== $name: $sec%.2f s, ${jobs.length} jobs ==")
      var cursor = wall0
      for (j <- jobs) {
        val gap = (j.start - cursor) / 1e3
        val dur = (j.end - j.start) / 1e3
        val own = done.getOrElse(Some(j.id), Nil)
        if (gap > 0.005)
          println(f"   [driver gap ${gap}%6.3f s]")
        println(f"   job ${j.id}%3d ${dur}%6.3f s stages=${own.size}%2d tasks=${own.map(_.tasks).sum}%4d  ${j.callSite.take(70)}")
        cursor = math.max(cursor, j.end)
      }
      val tail = (wall0 + (sec * 1000).toLong - cursor) / 1e3
      if (tail > 0.005) println(f"   [driver tail ${tail}%6.3f s]")
      println("   -- slowest stages --")
      rec.stages.sortBy(-_.wallMs).take(12).foreach { st =>
        println(f"   stage ${st.id}%4d ${st.wallMs / 1e3}%6.2f s cpu=${st.cpuNs / 1e9}%6.1f tasks=${st.tasks}%3d " +
          f"shufR=${st.shuffleReadBytes / 1e6}%7.1f shufW=${st.shuffleWriteBytes / 1e6}%7.1f  ${st.where.take(60)}")
      }
    }
  }
}
