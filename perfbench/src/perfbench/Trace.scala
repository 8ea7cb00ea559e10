package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One harness span: run, pass, op, phase or call. Times are epoch
  * milliseconds (the clock Spark stamps its listener events with) plus
  * nanoTime for the latencies the benchmark reports. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val op: Int) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs: Long = 0L
  var endNs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Nested spans opened and closed by the single client thread. Every
  * span of one operation carries the operation's id. */
final class Spans {
  val all: ArrayBuffer[Span] = ArrayBuffer()
  private var stack: List[Span] = Nil
  private var ops = 0

  def apply[T](kind: String, name: String)(body: Span => T): T = {
    val parent = stack.headOption
    val op = if (kind == "op") { ops += 1; ops } else parent.fold(0)(_.op)
    val s = new Span(all.size + 1, parent.fold(0)(_.id), kind, name, op)
    all += s
    stack = s :: stack
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }
}

/** Spark-side records of a traced run, filled from the listener bus. */
final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int],
    val callSite: String) {
  var endMs: Long = -1L
  var succeeded = false
}

final class StageRec(val id: Int, val attempt: Int, val name: String) {
  var submittedMs: Long = -1L
  var completedMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
}

final class PlanRec(val startMs: Long, val analysisMs: Long,
    val optimizationMs: Long, val planningMs: Long)

/** The benchmark's SparkListener: jobs, stages and per-stage task sums.
  * Callbacks run on the listener thread; readers call
  * [[org.apache.spark.graftbridge.ListenerBridge.drain]] first. */
final class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap()
  val stages: mutable.LinkedHashMap[(Int, Int), StageRec] = mutable.LinkedHashMap()

  private def callSite(props: Properties, infos: Seq[StageInfo]): String =
    Option(props).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(infos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")

  private def stage(id: Int, attempt: Int, name: String): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt, name))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds,
      callSite(e.properties, e.stageInfos))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber(), i.name).submittedMs =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber(), i.name).completedMs =
      i.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId, "")
    s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId, "")
    s.tasks += 1
    e.reason match {
      case Success | _: TaskKilled => ()
      case _ => s.failedTasks += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst phase times of every QueryExecution that ran an action. */
final class PlanListener extends QueryExecutionListener {
  val plans: ArrayBuffer[PlanRec] = ArrayBuffer()

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(name: String): Long = phases.get(name).fold(0L)(_.durationMs)
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    plans += new PlanRec(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Writes the run's spans, with every Spark job placed under the
  * innermost harness span whose window holds its start, as one JSON line
  * per span. A job no operation window holds is written with parent 0
  * and counted as unattributed. */
object TraceFile {
  private val json = new ObjectMapper()

  private def line(out: BufferedWriter, fields: Seq[(String, Any)]): Unit = {
    val node = json.createObjectNode()
    fields.foreach {
      case (k, v: Int) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Double) => node.put(k, v)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v: Seq[_]) =>
        val a = node.putArray(k)
        v.foreach(x => a.add(x.toString))
      case (k, v) => node.put(k, String.valueOf(v))
    }
    out.write(json.writeValueAsString(node))
    out.write("\n")
  }

  def write(path: String, spans: Spans, jobs: JobListener,
      plans: PlanListener): Unit = {
    val out = new BufferedWriter(new FileWriter(path))
    try {
      val harness = spans.all.toIndexedSeq
      def holder(ms: Long): Option[Span] =
        harness.filter(s => s.op > 0 && s.startMs <= ms && ms <= s.endMs)
          .sortBy(s => (-s.startMs, -s.id)).headOption
      harness.foreach { s =>
        line(out, Seq("kind" -> s.kind, "id" -> s"h${s.id}",
          "parent" -> (if (s.parent == 0) "" else s"h${s.parent}"),
          "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "dur_s" -> s.seconds) ++ s.attrs.toSeq)
      }
      val stagesById = jobs.stages.values.groupBy(_.id)
      // a stage is listed again, as skipped, by every later job that
      // reuses its shuffle output; it belongs to the first job listing it
      val emitted = mutable.Set[Int]()
      jobs.jobs.values.foreach { j =>
        val h = holder(j.startMs)
        line(out, Seq("kind" -> "job", "id" -> s"j${j.id}",
          "parent" -> h.fold("")(s => s"h${s.id}"), "op" -> h.fold(0)(_.op),
          "name" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "succeeded" -> j.succeeded))
        for (sid <- j.stageIds if emitted.add(sid);
             s <- stagesById.getOrElse(sid, Nil) if s.submittedMs >= 0) {
          line(out, Seq("kind" -> "stage", "id" -> s"s${s.id}.${s.attempt}",
            "parent" -> s"j${j.id}", "op" -> h.fold(0)(_.op), "name" -> s.name,
            "start_ms" -> s.submittedMs, "end_ms" -> s.completedMs,
            "first_launch_ms" -> (if (s.tasks == 0) s.submittedMs else s.firstLaunchMs),
            "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
            "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
            "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
            "spill" -> s.spill, "input_bytes" -> s.inputBytes,
            "input_rows" -> s.inputRows, "output_bytes" -> s.outputBytes))
        }
      }
      plans.plans.foreach { p =>
        val h = holder(p.startMs)
        line(out, Seq("kind" -> "plan", "id" -> "",
          "parent" -> h.fold("")(s => s"h${s.id}"), "op" -> h.fold(0)(_.op),
          "start_ms" -> p.startMs, "analysis_ms" -> p.analysisMs,
          "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs))
      }
    } finally out.close()
  }
}
