package graft.tools

/** Dev utility: print the executed plan of a named SparkEntry query —
  * the .explain feedback loop for shuffle/reuse/pushdown iteration. */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    // flags must not be consumed as positionals: `ExplainTool q18
    // --static` otherwise reads "--static" as the sfDir path
    val pos = args.filterNot(_.startsWith("--"))
    val name = pos(0)
    val sfDir = if (pos.length > 1) pos(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("--static")) {
      // static plan only — no execution: the shape Catalyst picked from
      // size ESTIMATES (a misestimated broadcast shows here even when
      // running the query would blow the driver)
      println(df.queryExecution.sparkPlan.toString)
    } else {
      // execute so AQE finalizes, without buffering rows on the driver;
      // on failure STILL print the plan — the materialized QueryStages
      // show which exchange was being built when it died
      val r = scala.util.Try(df.count())
      println(df.queryExecution.executedPlan.toString)
      r.failed.foreach { e => println(s"EXECUTION FAILED: $e") }
      if (r.isFailure) { spark.stop(); sys.exit(1) } // callers check status
    }
    spark.stop()
  }
}
