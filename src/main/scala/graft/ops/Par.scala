package graft.ops

import org.apache.spark.graftbridge.ContextBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Concurrent materialization of INDEPENDENT pinned frames
  * (optimization round 16, guide §2.6 "overlap independent jobs").
  *
  * Audit-shaped queries build two or more independent arms (an exact
  * truth arm and an approximate arm) and pin each eagerly; built
  * sequentially, the second arm's cluster sits idle during the first
  * arm's stragglers. Spark's scheduler happily runs several jobs at
  * once inside one application — actions are only sequential because
  * the driver calls them sequentially — so [[pinAll]] submits each
  * frame's pin from its own thread and returns the pinned frames in
  * input order. FIFO scheduling (the default) back-fills the tail of
  * the first job with tasks from the second, which is exactly the
  * behaviour the guide recommends.
  *
  * Each arm runs with a copy of the caller's Spark local properties
  * (job tags, job group, description), taken when [[pinAll]] is
  * called: pool threads inherit them only when the thread is created,
  * so a warm pool would otherwise run arm jobs under whatever the
  * thread first saw. Output identity: each arm materializes the same
  * rows it would alone — concurrency changes scheduling, never
  * content. */
object Par {

  /** Build AND pin two independent arms concurrently (thunks, not
    * frames: kernels like jaccardJoinExact run eager pins DURING
    * construction, so the construction itself must move off the
    * calling thread or the arms still serialize). Returns the pinned
    * frames in input order; exceptions propagate. */
  def pinBoth(a: => DataFrame, b: => DataFrame): (DataFrame, DataFrame) = {
    val Seq(pa, pb) = pinAll(() => a, () => b)
    (pa, pb)
  }

  /** N-ary [[pinBoth]]: build and pin every arm concurrently; returns
    * the pinned frames in input order. */
  def pinAll(arms: Function0[DataFrame]*): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = SparkSession.active.sparkContext
    val fs = arms.map { a =>
      val props = ContextBridge.localProperties(sc)
      Future(ContextBridge.withLocalProperties(sc, props)(Pin.pin(a())))
    }
    fs.map(Await.result(_, Duration.Inf))
  }
}
