package graft.ops

import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** [[QueryMetrics.capture]] is the one measurement path: its record must
  * hold every execution, job and task of its body, on any thread, and
  * nothing of any other body's. */
class QueryMetricsSpec extends SparkTestBase {

  test("a pin then a collect of the pinned frame: both executions, and " +
    "task totals equal the stages' tasks") {
    val (rows, rec) = QueryMetrics.capture(spark) {
      val pinned = Pin.pin(spark.range(1000).groupBy((col("id") % 7).as("k")).count())
      pinned.collect()
    }
    assert(rows.length == 7)
    val actions = rec.executions.map(_.funcName)
    assert(actions.contains("localCheckpoint") && actions.last == "collect", actions)
    assert(rec.executions.map(_.qe).distinct.size == 2, actions)
    assert(rec.stages.nonEmpty)
    assert(rec.tasks.tasks == rec.stages.map(_.tasks).sum.toLong,
      s"task ends ${rec.tasks.tasks} vs stages ${rec.stages}")
    assert(rec.tasks.failed == 0L)
    val declared = rec.jobs.flatMap(_.stageIds).toSet
    assert(rec.stages.forall(s => declared(s.id)), s"${rec.stages} vs ${rec.jobs}")
    assert(rec.jobs.forall(j => j.end >= j.start), rec.jobs)
  }

  test("a job started without a callSite.short property is named after " +
    "its result stage's call site") {
    val (_, rec) = QueryMetrics.capture(spark)(spark.range(10).collect())
    assert(rec.jobs.nonEmpty)
    assert(rec.jobs.forall(_.callSite.contains("QueryMetricsSpec.scala")),
      rec.jobs.map(_.callSite))
  }

  test("after a throwing body, a new capture sees none of its executions") {
    // a backlog of events still queued when the body throws
    intercept[IllegalStateException] {
      QueryMetrics.capture(spark) {
        (1 to 20).foreach(i => spark.range(i).collect())
        throw new IllegalStateException("boom")
      }
    }
    val df = spark.range(3).toDF("id")
    val (_, rec) = QueryMetrics.capture(spark)(df.collect())
    assert(rec.executions.nonEmpty)
    assert(rec.executions.forall(_.qe eq df.queryExecution),
      rec.executions.map(_.qe.logical.toString))
  }

  test("jobs of Par.pinAll arms appear in the record") {
    val probe = "query-metrics-par"
    val (frames, rec) = QueryMetrics.capture(spark) {
      spark.sparkContext.addJobTag(probe)
      try Par.pinAll((1 to 3).map(i => () => spark.range(100 * i).toDF("id")): _*)
      finally spark.sparkContext.removeJobTag(probe)
    }
    assert(frames.map(_.count()) == Seq(100L, 200L, 300L))
    val armJobs = rec.jobs.filter(_.tags.contains(probe))
    assert(armJobs.size >= 3, rec.jobs)
    assert(armJobs.forall(j => j.end >= j.start), armJobs)
    assert(rec.executions.count(_.funcName == "localCheckpoint") >= 3,
      rec.executions.map(_.funcName))
  }
}
