package graft

import org.apache.spark.sql.execution.QueryExecution
import org.scalactic.source.Position
import org.scalatest.Assertions

import graft.ops.QueryMetrics

/** The driver query surface, built once per test JVM (`Test / fork` runs
  * every suite in one) for the five plan gates, which walk the plans kept
  * here instead of each building the surface again: building runs every
  * query's eager pins and collects, about two minutes for the surface. */
object Surface {
  val sf = "/root/testdata/sf0.001"

  /** The returned frame's execution and the executions its construction
    * ran (pins, collects), in the order they finished. */
  final case class Built(qe: QueryExecution, eager: Seq[QueryMetrics.Execution])

  /** Every query of [[SparkEntry.queries]] in name order, built at sf0.001
    * under one capture and planned right after, or why it failed. */
  lazy val swept: Seq[(String, Either[Throwable, Built])] = {
    val spark = SparkTestBase.session
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, mk) =>
      name -> (try {
        val (df, rec) = QueryMetrics.capture(spark)(mk(spark, sf))
        df.queryExecution.sparkPlan
        Right(Built(df.queryExecution, rec.executions))
      } catch { case e: Throwable => Left(e) })
    }
  }

  /** [[swept]] for a gate: a query that failed to build fails the gate. */
  def built(implicit pos: Position): Seq[(String, Built)] = {
    Assertions.assert(swept.map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    swept.map {
      case (name, Right(b)) => name -> b
      case (name, Left(e)) => Assertions.fail(s"$name failed to build at sf0.001: $e")
    }
  }
}
