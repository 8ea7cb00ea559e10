package graft.tools

/** Dev utility (optimization rounds): dump `.explain("formatted")` for a
  * list of SparkEntry queries to `<outDir>/<query>_<tag>.txt` — the
  * plan-evidence files the optimization judge diffs (plans/r15/...).
  *
  * Usage: runMain graft.tools.PlanDump <tag> <outDir> q17_ngram_jaccard,...
  * Optional 4th arg: sfDir (default graded sf0.1). Plans are the static
  * optimized physical plans (pre-AQE), which is what the shape claims
  * (Exchange count, join strategy, PushedFilters) are about.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = java.nio.file.Path.of(args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // queries that pin their result (round 16) execute the interesting
    // plan EAGERLY at construction; capture those plans too, or the
    // dump is a Sort-over-checkpoint stub
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = eager.add(qe.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    for (name <- names) {
      eager.clear()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val eagerTxt = eager.asScala.toSeq.distinct.zipWithIndex.map {
        case (p, i) => s"== Eagerly executed at construction ($i) ==\n$p"
      }
      val txt = (df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode) +: eagerTxt)
        .mkString("\n")
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
      println(s"wrote ${name}_$tag.txt (${txt.linesIterator.length} lines)")
    }
    spark.stop()
  }
}
