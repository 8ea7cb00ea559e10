package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Consumer side of the LSH bucket kernels' truncation telemetry: every
  * [[Dedup]] bucket aggregation `observe`s `graft_lsh_buckets_<n>`
  * metrics (over_cap_buckets / max_bucket_rows / buckets), but an
  * `observe` nobody listens to is a dashboard nobody built — this
  * listener captures them per completed query so a pipeline can ALERT
  * on silent recall loss (an over-cap bucket means candidate pairs were
  * deterministically dropped; the fix is boilerplate removal or a
  * bigger `maxBucket`, but only if someone finds out).
  *
  * A session-lifetime listener: register once per session; snapshots
  * are cumulative until [[LshBucketMetrics.clear]]. Listener callbacks
  * are asynchronous (Spark dispatches QueryExecutionListener events on
  * the listener bus), so drain the bus (`ListenerBridge.drain`) before a
  * snapshot. To read the metrics of one piece of work instead, run it
  * under [[QueryMetrics.capture]] and read `observedMetrics` from the
  * record's executions.
  */
final class LshBucketMetrics extends QueryExecutionListener {

  private val captured =
    new java.util.concurrent.ConcurrentLinkedQueue[LshBucketMetrics.Stats]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft_lsh_buckets_")) {
        def long(field: String): Long =
          Option(row.getAs[Any](field)).fold(0L)(_.asInstanceOf[Long])
        captured.add(LshBucketMetrics.Stats(name,
          overCapBuckets = long("over_cap_buckets"),
          maxBucketRows = long("max_bucket_rows"),
          buckets = long("buckets")))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** All bucket stats captured so far (one entry per bucket kernel per
    * completed query). */
  def snapshot: Seq[LshBucketMetrics.Stats] = captured.asScala.toSeq

  def clear(): Unit = captured.clear()
}

object LshBucketMetrics {
  case class Stats(metricName: String, overCapBuckets: Long,
      maxBucketRows: Long, buckets: Long)

  /** Register a fresh listener on the session and return it. */
  def install(spark: SparkSession): LshBucketMetrics = {
    val l = new LshBucketMetrics
    spark.listenerManager.register(l)
    l
  }
}

/** The one measurement path for queries: everything Spark reports while
  * a piece of work runs, as a [[QueryMetrics.Record]]. Bench's per-query
  * work channel, the `Dev` profile and plan dumps, and the plan gates
  * all read it.
  *
  * [[QueryMetrics.capture]] drains the listener bus, registers one
  * listener that is both a `SparkListener` and a
  * `QueryExecutionListener`, runs the body, drains again and
  * unregisters in a `finally`. The listener lives for that one call, so
  * no state outlives it and captures never see each other's events. A
  * caller that needs the record of a failing body catches inside it
  * (Bench does). */
object QueryMetrics {

  /** A successful Dataset action (`funcName`, e.g. `collect`) and its
    * execution; `qe.observedMetrics` holds its `observe` metrics. */
  case class Execution(funcName: String, qe: QueryExecution)

  /** `end` is -1 for a job that had not ended when the body returned. */
  case class Job(id: Int, start: Long, end: Long, callSite: String,
      tags: Set[String], stageIds: Seq[Int])

  /** `where` is the first `graft.*` frame of the stage's call site
    * outside the measuring code, else the stage name. `wallMs` is -1
    * when Spark reported no submission or completion time. */
  case class Stage(id: Int, where: String, tasks: Int, wallMs: Long,
      cpuNs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** Task-end totals. `failed` counts ends whose reason makes the
    * scheduler re-run the task: a retried stage re-reads its shuffle
    * input, so a byte counter can grow for execution reasons rather than
    * plan reasons, and counting retries separately tells the two apart.
    * `TaskKilled` (speculation, job cancel) inflates no counter and is
    * not counted. The other totals count every end that carries task
    * metrics. */
  case class Tasks(tasks: Long = 0, failed: Long = 0, cpuNs: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      memorySpillBytes: Long = 0, diskSpillBytes: Long = 0)

  /** Executions and jobs in the order they finished and started, stages
    * in completion order. */
  case class Record(executions: Seq[Execution], jobs: Seq[Job],
      stages: Seq[Stage], tasks: Tasks)

  def capture[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    // earlier work's events must reach only earlier listeners: the bus
    // delivers a queued event to whoever is registered at dispatch time
    ListenerBridge.drain(sc)
    val l = new Listener
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, l.record)
    } finally {
      spark.listenerManager.unregister(l)
      sc.removeSparkListener(l)
    }
  }

  /** Frames of the code that measures, never the code measured. */
  private val measuring = Seq("graft.ops.QueryMetrics", "graft.Bench", "graft.tools.Dev")

  private final class Listener extends SparkListener with QueryExecutionListener {
    private val executions = mutable.ArrayBuffer[Execution]()
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stages = mutable.ArrayBuffer[Stage]()
    private var tasks = Tasks()

    def record: Record = synchronized {
      Record(executions.toList, jobs.values.toList, stages.toList, tasks)
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      executions += Execution(funcName, qe)
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      // Spark sets `callSite.short` only under `setCallSite`; otherwise
      // the result stage (the highest id) is named after the call site
      val callSite = prop("callSite.short")
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
      jobs(j.jobId) = Job(j.jobId, j.time, -1L, callSite.getOrElse("?"),
        prop("spark.job.tags").fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet),
        j.stageIds)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(j.jobId).foreach(job => jobs(j.jobId) = job.copy(end = j.time))
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      val m = Option(i.taskMetrics)
      // the short name is the (useless) lambda call site; the first
      // graft.* frame in the long-form details names the operator
      val where = i.details.linesIterator
        .find(l => l.contains("graft.") && !measuring.exists(l.contains))
        .map(_.trim).getOrElse(i.name.takeWhile(_ != '\n'))
      stages += Stage(i.stageId, where, i.numTasks,
        (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L),
        m.fold(0L)(_.executorCpuTime),
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val failed = t.reason match {
        case _: TaskKilled | Success => 0
        case _ => 1
      }
      val m = t.taskMetrics
      tasks =
        if (m == null) tasks.copy(failed = tasks.failed + failed)
        else Tasks(tasks.tasks + 1, tasks.failed + failed,
          tasks.cpuNs + m.executorCpuTime,
          tasks.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          tasks.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          tasks.memorySpillBytes + m.memoryBytesSpilled,
          tasks.diskSpillBytes + m.diskBytesSpilled)
    }
  }
}
