package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameFilter] — the optional third arg restricts
    // to queries whose name contains any of its comma-separated terms;
    // a term starting with '!' EXCLUDES matches instead (the cluster
    // lane runs "!q220" — embedded in-memory Derby is single-JVM by
    // nature, so the JDBC roundtrip can't span executor processes; a
    // real cluster points sources.Jdbc at a network RDBMS and the code
    // path is identical). Dev/lane-only; the driver passes two args.
    val Array(sfDir, outDir) = args.take(2)
    val terms = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val includes = terms.map(_.filterNot(_.startsWith("!")))
      .filter(_.nonEmpty)
    val excludes = terms.toSeq.flatten
      .filter(_.startsWith("!")).map(_.drop(1)).filter(_.nonEmpty)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) =>
        includes.forall(_.exists(name.contains)) &&
          !excludes.exists(name.contains) }
    // a failing query prints its stack and causes and the run carries on
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        Bench.printFailure(s"[verify] $name failed", e)
        Some(name)
      }
    }
    System.err.println(s"[verify] ${failed.size} of ${selected.size} queries failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
