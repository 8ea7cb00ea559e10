package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.QueryMetrics

/** The graded bench: each SparkEntry query (or those named in
  * `SPARK_GRAFT_BENCH_ONLY`) run best-of-`SPARK_GRAFT_BENCH_RUNS` into a
  * noop sink, after one untimed [[warmUp]]. Each run goes through
  * [[QueryMetrics.capture]]; its record supplies the query's work
  * channel (shuffle bytes, CPU, tasks, failed tasks) and the run-wide
  * spill totals. Prints the full JSON line and the compact one, and
  * writes the per-query artifact (see the artifact-path notes below). */
object Bench {
  /** The graded SF dir — the ONE constant behind both the
    * SPARK_GRAFT_SF_DIR default and the "is this a full default run"
    * artifact-path decision below; two separate literals once let a
    * trailing slash reroute a genuine full run to the /tmp sidecar. */
  val DefaultSfDir = "/root/testdata/sf0.1"
  private def canon(p: String): java.nio.file.Path =
    java.nio.file.Path.of(p).toAbsolutePath.normalize

  /** The snapshot-survivable summary line: COMPLETE inside any
    * 2000-char stdout tail (the round driver keeps only that much, and
    * the full per-query line is ~6 KB at 223 queries). Budget is pinned
    * at ≤ [[CompactLineBudget]] chars by BenchLineSpec over the REAL
    * query-name surface, so a growing surface (8 slowest × long names)
    * cannot silently push the one readable record out of the window.
    * Locale.ROOT throughout — a comma-decimal host must not emit
    * invalid JSON in exactly the line built to stay machine-parseable. */
  val CompactLineBudget = 700
  def compactLine(total: Double, sfDir: String, nQueries: Int, nOk: Int,
      nErrors: Int, memSpill: Long, diskSpill: Long,
      slowest: Seq[(String, Double)]): String = {
    val slowJson = slowest
      .map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(v))
      }.mkString("{", ",", "}")
    // distinct metric key vs the full line's "total": two stdout lines
    // sharing "metric":"total" with different schemas let a key-matching
    // consumer nondeterministically pick either shape
    s"""{"metric":"total_compact","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""nQueries":$nQueries,"nOk":$nOk,"nErrors":$nErrors,""" +
      s""""spill":{"memBytes":$memSpill,"diskBytes":$diskSpill},""" +
      s""""slowest":$slowJson,"perQueryArtifact":"BENCH_full_latest.json"}"""
  }
  /** Untimed warm-up: JVM, codegen and Hadoop-FS initialization, not
    * query work. The `Dev` profile runs the same one. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    noopWrite(spark.read.parquet(s"$sfDir/region.parquet"))
  }

  /** Harness v2: materialize EVERY output column via a noop-format
    * write. Under the old `count()`, Catalyst's ColumnPruning dropped
    * unreferenced projections and EliminateSorts removed trailing ORDER
    * BYs, so map-only expression-kernel queries were priced as parquet
    * row-counts (q54 html-strip: 0.13s counted vs 1.08s real). The noop
    * sink consumes each InternalRow and discards it — full query work,
    * zero I/O cost in the measurement. */
  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Print a failure to stderr: `<what>: <exception>`, its first stack
    * frames, then its cause chain. A swallowed root cause turns every
    * at-scale failure into a blind reproduction hunt. */
  def printFailure(what: String, e: Throwable): Unit = {
    System.err.println(s"$what: $e")
    e.getStackTrace.take(12).foreach(f => System.err.println(s"    at $f"))
    // identity-set guard: a cycle longer than a direct self-link
    // (A→B→A) must not hang the error handler
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    seen.add(e)
    var cause = e.getCause
    while (cause != null && seen.add(cause)) {
      System.err.println(s"  caused by: $cause")
      cause.getStackTrace.take(6).foreach(f => System.err.println(s"    at $f"))
      cause = cause.getCause
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    // best-of-n per query: a single pass is hostage to transient external
    // load (round 1's driver bench ran 3× inflated under a loaded host);
    // the min of n passes is the machine-capability number
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional session-conf overrides for benching deployment knobs,
    // e.g. SPARK_GRAFT_CONF=spark.graft.pin.alignedLayout=true.
    // Pairs split on ';' when one is present, else ',' — so a
    // list-valued conf ("k=a,b,c") passes intact by switching to ';'
    // as the pair delimiter. A segment with no '=' is a malformed
    // pair: warn loudly instead of dropping it silently.
    sys.env.get("SPARK_GRAFT_CONF").foreach { raw =>
      val sep = if (raw.contains(';')) ';' else ','
      raw.split(sep).filter(_.trim.nonEmpty).foreach { kv =>
        val i = kv.indexOf('=')
        if (i > 0) spark.conf.set(kv.take(i).trim, kv.drop(i + 1).trim)
        else System.err.println(
          s"[bench] WARN: SPARK_GRAFT_CONF segment '$kv' has no '=' — " +
            "ignored (use ';' between pairs when a value contains ',')")
      }
    }
    warmUp(spark, sfDir)
    // optional comma-separated query-name filter for local iteration
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q16_simhash,q17_ngram_jaccard)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    // only successful runs produce a timing sample — a query that throws
    // must NOT contribute its time-to-exception as a valid (fast) min,
    // or a regression that breaks a query silently improves the total
    val best = scala.collection.mutable.Map[String, Double]()
    val errors = scala.collection.mutable.Map[String, String]()
    // per-query WORK from the last successful run (plan-deterministic,
    // so any run's numbers are THE numbers). WORK channel (round 9):
    // task-level shuffle bytes, CPU time and task counts from each run's
    // QueryMetrics record. Unlike wall-clock — which this host moves by
    // ±20% per query between same-window passes (see BASELINE.md's A/A
    // calibration) — shuffle volume is a deterministic property of the
    // physical plan over fixed input, so these decide "did this change
    // add or remove work" exactly, where a timing diff can only shrug.
    // Failed (retried) tasks are counted apart (round 11: a full sf1 run
    // showed q61 +25 MB that three identical-prefix partial runs did not
    // reproduce), so a diff can tell "the plan changed" from "tasks were
    // retried in this window".
    val work = scala.collection.mutable.Map[String, QueryMetrics.Tasks]()
    // spill accounting (round-9 memory-pressure lane): memory/disk spill
    // totals over every run, failed ones included, reported in the JSON
    // line — a constrained-heap pass (e.g. -Xmx8g at sf1) proves graceful
    // spill exactly when these are nonzero AND errors is empty
    var memSpill, diskSpill = 0L
    for (_ <- 1 to runs; name <- names) {
      val fn = SparkEntry.queries(name)
      val (outcome, rec) = QueryMetrics.capture(spark) {
        val t0 = System.nanoTime()
        try { noopWrite(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Left(e) }
      }
      memSpill += rec.tasks.memorySpillBytes
      diskSpill += rec.tasks.diskSpillBytes
      outcome match {
        case Right(sec) =>
          if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
          work(name) = rec.tasks
        case Left(e) =>
          // the JSON line carries only the class name (stable, short);
          // the WHY goes to stderr
          errors(name) = e.getClass.getName
          printFailure(s"BENCH ERROR $name", e)
      }
    }
    // a query with no successful run reports -1 and an error marker
    val qs = names.map(k => s"\"" + k + "\":" + best.getOrElse(k, -1.0)).mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val total = names.flatMap(best.get).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,""" +
        s""""spill":{"memBytes":$memSpill,"diskBytes":$diskSpill},"sf":"$sfDir"}"""
    println(line)
    // The round driver's BENCH_r*.json snapshot keeps only the LAST
    // 2000 chars of stdout, and the full line above is ~6 KB at 223
    // queries — so the snapshot's head (and the opening brace) is cut
    // and the snapshot has recorded `parsed: null` since round 7. The
    // full line stays first (it IS the documented contract, and a
    // driver that captures unbounded stdout parses it); this second,
    // ≤ ~700-char line is COMPLETE inside any 2000-char tail: the
    // headline numbers, the 8 slowest queries, and the path of the
    // committed artifact holding the untruncated per-query record.
    val slowest = names.flatMap(k => best.get(k).map(k -> _))
      .sortBy(-_._2).take(8)
    println(compactLine(total, sfDir, names.size, best.size, errors.size,
      memSpill, diskSpill, slowest))
    // the deterministic work channel goes in the ARTIFACT only: the
    // round driver keeps a 2000-char truncated tail of stdout, and
    // bloating the line would push the per-query timings out of it
    val workJson = names.flatMap(k => work.get(k).map { w =>
      "\"" + k + "\":" +
        s"""{"shuffleReadBytes":${w.shuffleReadBytes},"shuffleWriteBytes":${w.shuffleWriteBytes},""" +
        s""""cpuNs":${w.cpuNs},"tasks":${w.tasks},"failedTasks":${w.failed}}"""
    }).mkString("{", ",", "}")
    // stable full artifact: the round driver's BENCH_r*.json keeps only
    // a 2000-char truncated tail of stdout, so the complete per-query
    // record must live at a fixed path the next round can diff against
    // (tools/bench_compare.py defaults its `new` side to this file)
    // default resolves against the repo root (first ancestor of the cwd
    // holding build.sbt), not the raw cwd: a run launched from another
    // directory must not leave a stale artifact in place for
    // tools/bench_compare.py to silently diff as "no regression"
    // The default path guards itself against dev-run clobber (learned
    // the hard way in round 10: a /verify sf0.01 smoke pass silently
    // overwrote the graded sf0.1 artifact, and the clobber rode a
    // commit): without an explicit SPARK_GRAFT_BENCH_OUT, the artifact
    // is only written for a FULL default-SF run — a filtered
    // (BENCH_ONLY) or non-default-SF pass records to a /tmp sidecar
    // instead, so bench_compare.py never diffs apples against oranges.
    val defaultFullRun =
      canon(sfDir) == canon(DefaultSfDir) &&
        sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Path.of(_))
      .getOrElse {
        if (!defaultFullRun)
          java.nio.file.Path.of("/tmp/bench_partial_latest.json")
        else {
          var d = java.nio.file.Path.of("").toAbsolutePath
          while (d != null && !java.nio.file.Files.exists(d.resolve("build.sbt")))
            d = d.getParent
          (if (d == null) java.nio.file.Path.of("").toAbsolutePath else d)
            .resolve("BENCH_full_latest.json")
        }
      }
    val artifactLine = line.stripSuffix("}") + s""","work":$workJson}"""
    try java.nio.file.Files.writeString(outPath, artifactLine + "\n")
    catch { case e: Exception =>
      // a read-only target must not fail the bench, but it must be LOUD:
      // a swallowed failure leaves the previous artifact masquerading
      // as this run's result
      System.err.println(
        s"WARNING: bench artifact write failed ($outPath): $e — " +
          "per-query record for this run exists only on stdout")
    }
    spark.stop()
  }
}
