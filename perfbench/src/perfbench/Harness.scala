package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.LshBucketMetrics
import graft.pipelines.CivicPipeline

/** One benchmark run in one JVM: a single closed-loop client drives one
  * workload through the program's public entry points, checks every
  * output, and writes its measurements as JSON for `run.py`.
  *
  * Arguments are `--name value` pairs; `run.py` documents them. */
object Harness {
  val Cores = 4
  val json = new ObjectMapper()

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** Operation outcomes of the run: timed latencies only from
    * operations that neither threw nor produced a wrong output. */
  final class Outcomes {
    var attempted = 0
    var failed = 0
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    def fail(what: String): Unit = { failed += 1; notes += what; System.err.println(s"[perfbench] FAIL $what") }
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val traced = args("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args("local-dir"))
      .config("spark.sql.warehouse.dir", args("local-dir") + "/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    val plans = new PlanListener
    val lsh = if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      Some(LshBucketMetrics.install(spark))
    } else None
    val spans = new Spans
    val out = new Outcomes
    val workload = args("workload")
    val spec = json.readTree(new File(args("workloads"))).get(workload)
    require(spec != null, s"unknown workload $workload")
    val result = spans("run", workload) { run =>
      val r = if (workload == "civic_ingest") new Civic(spark, args, spans, out, traced, lsh).run()
        else new Queries(spark, args, spec, spans, out, traced, lsh).run()
      run.attrs ++= r.layerAttrs
      r
    }
    if (traced) {
      ListenerBridge.drain(spark.sparkContext)
      TraceFile.write(args("trace-file"), spans, jobs, plans)
    }
    spark.stop()
    val heapMb = liveHeapMb()
    val metrics = result.metrics :+ Metric("live_heap_mb", heapMb, "MB", 1)
    val node = json.createObjectNode()
    node.put("attempted", out.attempted)
    node.put("failed", out.failed)
    node.put("first_timed_ms", result.firstTimedMs)
    val ms = node.putArray("metrics")
    metrics.foreach { m =>
      ms.addObject().put("name", m.name).put("value", m.value).put("unit", m.unit)
        .put("samples", m.samples)
    }
    val perOp = node.putObject("per_op")
    result.perOp.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      val a = perOp.putArray(name)
      xs.foreach(x => a.add(x._2))
    }
    val notes = node.putArray("notes")
    out.notes.foreach(n => notes.add(n))
    val host = node.putObject("host")
    host.put("nproc", Runtime.getRuntime.availableProcessors())
    host.put("master", s"local[$Cores]")
    host.put("xmx_mb", Runtime.getRuntime.maxMemory() / (1L << 20))
    host.put("spark", org.apache.spark.SPARK_VERSION)
    host.put("scala", scala.util.Properties.versionNumberString)
    host.put("java", System.getProperty("java.version"))
    Files.writeString(Paths.get(args("result")), json.writeValueAsString(node))
  }

  /** Driver heap in use after full collections, with the session stopped:
    * what the run left reachable. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  final case class Metric(name: String, value: Double, unit: String, samples: Int)

  final case class Result(metrics: Seq[Metric], firstTimedMs: Long,
      layerAttrs: Seq[(String, Any)], perOp: Seq[(String, Double)])

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The timed passes of a run and the operation latencies in them.
    * The client runs whole passes until their summed wall time reaches
    * `--seconds`; the pass that crosses the mark counts by the share of
    * it inside that window, every earlier pass counts fully. Passes of a
    * fresh JVM keep getting faster as the JIT warms, and the number that
    * fit steps by one as the host runs faster or slower, so a median
    * over whole passes jumps between runs where these weighted means
    * move smoothly. */
  final class Window(seconds: Double) {
    val passes = scala.collection.mutable.ArrayBuffer[Double]()
    /** (pass index, latency) of every operation that passed its checks */
    val samples = scala.collection.mutable.ArrayBuffer[(Int, Double)]()

    def open: Boolean = passes.sum < seconds

    def weights: IndexedSeq[Double] = {
      var before = 0.0
      passes.toIndexedSeq.map { p =>
        val w = math.max(0.0, math.min(1.0, (seconds - before) / p))
        before += p
        w
      }
    }

    /** `pass_s`, the weighted mean pass time, and `op_geomean_s`, the
      * weighted geometric mean of operation latencies: it moves with
      * each operation and weighs a relative change to a cheap operation
      * like one to a costly operation, where a pooled median of
      * operations with distinct costs jumps between their levels. */
    def metrics: Seq[Metric] = {
      val w = weights
      def mean(xs: Seq[(Double, Double)]): Double = {
        val total = xs.map(_._1).sum
        if (total > 0) xs.map { case (wi, x) => wi * x }.sum / total else 0.0
      }
      Seq(
        Metric("pass_s", mean(w.zip(passes)), "s", passes.size),
        Metric("op_geomean_s", math.exp(mean(samples.toSeq.map { case (i, l) => w(i) -> math.log(l) })),
          "s", samples.size))
    }
  }

  /** Linear-interpolated quantile; 0 for an empty sample, which only a
    * run whose every operation failed produces. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Latency metric lines for a sample: the median, plus the highest of
    * p90/p99 that has at least ten samples beyond it. */
  def latency(prefix: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.isEmpty) Nil
    else Metric(s"${prefix}_p50_s", p50(xs), "s", xs.size) +:
      Seq(0.99 -> "p99", 0.9 -> "p90")
        .find { case (q, _) => xs.size * (1 - q) >= 10 }
        .map { case (q, n) => Metric(s"${prefix}_${n}_s", quantile(xs, q), "s", xs.size) }
        .toSeq

  /** Order-independent content fingerprint of a result: row count, the
    * wrapping sum of the low 32 bits of each row's 64-bit hash, and the
    * xor of those hashes. Rows are collected, which executes the same
    * physical plan as the timed noop write (an aggregate on top would
    * let the optimizer drop the final sort), so the warm-up compiles the
    * code the timed passes run. Columns enter the hash in name order. */
  def fingerprint(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var xor = 0L
    val rows = df.collect()
    rows.foreach { r =>
      val text = order.map(i => canonical(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(text, 17).toLong << 32) |
        (MurmurHash3.stringHash(text, 31).toLong & 0xFFFFFFFFL)
      sum += h & 0xFFFFFFFFL
      xor ^= h
    }
    s"${rows.length}:$sum:$xor"
  }

  /** A value as text that is equal exactly when the values are: byte
    * arrays by content, maps in key order, nested rows field by field. */
  private def canonical(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canonical).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Layer counters the harness samples itself at the end of a pass. */
  def pinState(spark: SparkSession): (Int, Long) = {
    System.gc()
    Thread.sleep(100)
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def lshTotals(lsh: Option[LshBucketMetrics]): (Long, Long) =
    lsh.fold((0L, 0L)) { l =>
      ListenerBridge.drain(SparkSession.active.sparkContext)
      val s = l.snapshot
      (s.map(_.buckets).sum, s.map(_.overCapBuckets).sum)
    }
}

import Harness._

/** fixed_cost and kernel_bound: an untimed warm-up pass that checks each
  * query's fingerprint against the pinned reference and one that runs
  * the timed path, then timed passes in seed order. */
final class Queries(spark: SparkSession, args: Harness.Args, spec: JsonNode,
    spans: Spans, out: Outcomes, traced: Boolean, lsh: Option[LshBucketMetrics]) {

  private val dir = args("data")
  private val names = spec.get("queries").elements().asScala.map(_.asText).toIndexedSeq
  private val corrupt = args.get("corrupt").toSet
  private def drain(): Unit = if (traced) ListenerBridge.drain(spark.sparkContext)

  private def build(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, dir)
    // self-test hook: a duplicated row must fail the output check
    if (corrupt(name)) df.unionAll(df.limit(1)) else df
  }

  def run(): Result = {
    val reference: Map[String, String] = args.get("reference")
      .filter(p => new File(p).exists)
      .map(p => json.readTree(new File(p)).get(args("workload")))
      .filter(_ != null)
      .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrElse(Map.empty)
    val recorded = scala.collection.mutable.LinkedHashMap[String, String]()
    spans("pass", "warmup") { _ =>
      for (name <- names) spans("op", name) { op =>
        out.attempted += 1
        op.attrs("timed") = false
        try {
          val fp = fingerprint(build(name))
          recorded(name) = fp
          op.attrs("fingerprint") = fp
          if (!args.get("record").contains("1") && !reference.get(name).contains(fp))
            out.fail(s"$name: fingerprint $fp != reference ${reference.getOrElse(name, "(none)")}")
        } catch { case e: Exception => out.fail(s"$name: ${e.getClass.getName}: ${e.getMessage}") }
        drain()
      }
    }
    args.get("record").filter(_ == "1").foreach { _ =>
      val node = json.createObjectNode()
      recorded.foreach { case (k, v) => node.put(k, v) }
      Files.writeString(Paths.get(args("record-file")), json.writeValueAsString(node))
    }
    // the collect above does not run the noop-write path; one untimed
    // pass through it keeps the JIT's first compiles of that path out of
    // the window
    spans("pass", "warmup-write") { _ =>
      for (name <- names) spans("op", name) { op =>
        out.attempted += 1
        op.attrs("timed") = false
        try build(name).write.format("noop").mode("overwrite").save()
        catch { case e: Exception => out.fail(s"$name: ${e.getClass.getName}: ${e.getMessage}") }
        drain()
      }
    }

    val seconds = args("seconds").toDouble
    val seed = args("seed").toLong
    val window = new Window(seconds)
    val latencies = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var firstTimedMs = 0L
    var pass = 0
    while (window.open) {
      val order = new Random(seed * 1000003L + pass).shuffle(names)
      val lsh0 = lshTotals(lsh)
      val p = spans("pass", s"pass$pass") { ps =>
        ps.attrs("timed") = true
        for (name <- order) spans("op", name) { op =>
          if (firstTimedMs == 0L) firstTimedMs = op.startMs
          op.attrs("timed") = true
          out.attempted += 1
          val (c0, n0) = codegen()
          try {
            val df = spans("phase", "build")(_ => build(name))
            spans("phase", "action")(_ => df.write.format("noop").mode("overwrite").save())
            val s = (System.nanoTime() - op.startNs) / 1e9
            latencies += name -> s
            window.samples += pass -> s
          } catch { case e: Exception => out.fail(s"$name: ${e.getClass.getName}: ${e.getMessage}") }
          val (c1, n1) = codegen()
          op.attrs("codegen_compiles") = c1 - c0
          op.attrs("codegen_ns") = n1 - n0
        }
        ps
      }
      window.passes += p.seconds
      if (traced) {
        drain()
        val (rdds, bytes) = pinState(spark)
        val lsh1 = lshTotals(lsh)
        p.attrs ++= Seq("pinned_rdds" -> rdds, "pinned_bytes" -> bytes,
          "lsh_buckets" -> (lsh1._1 - lsh0._1), "lsh_over_cap" -> (lsh1._2 - lsh0._2))
      }
      pass += 1
    }
    val metrics = window.metrics ++ latency("query", latencies.map(_._2).toSeq)
    Result(metrics, firstTimedMs, Nil, latencies.toSeq)
  }
}

/** civic_ingest: the roster is loaded and written once, then the seeded
  * batches are ingested in order into one growing bills/vote_events
  * warehouse. The first [[Civic.WarmupBatches]] batches are the untimed
  * warm-up (the first creates the tables, the later ones take the merge
  * path while the JIT warms); each later batch is one timed pass. After
  * every batch the table row counts and the read-back tallies are checked against the
  * generator's manifest; at the end both tables must equal a one-shot
  * ingest of the latest version of every document ingested so far. */
final class Civic(spark: SparkSession, args: Harness.Args,
    spans: Spans, out: Outcomes, traced: Boolean, lsh: Option[LshBucketMetrics]) {
  import spark.implicits._

  private val civic = args("civic")
  private val wh = args("local-dir") + "/warehouse"
  private val live = s"$wh/live"
  private val manifest = json.readTree(new File(s"$civic/manifest.json"))
  private val batches = manifest.get("batches").elements().asScala.toIndexedSeq
  private val jurisdiction = "ocd-division/country:us"

  private def bytesOf(p: String): (Long, Int) = {
    val files = Option(new File(p).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length)
  }

  private def tables(root: String): Map[String, String] = Map(
    "bills" -> fingerprint(spark.read.parquet(s"$root/bills")),
    "vote_events" -> fingerprint(spark.read.parquet(s"$root/vote_events")))

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** The app read: yes/no tallies per bill and chamber for the batch's
    * bills, joining vote_events to people. */
  private def readback(identifiers: Seq[String]): Seq[(String, String, Long, Long)] = {
    val bills = spark.read.parquet(s"$live/bills")
      .filter(col("identifier").isin(identifiers: _*))
      .select(col("id").as("bill_id"), col("identifier").as("bill_identifier"))
    val people = spark.read.parquet(s"$wh/people").select(col("id").as("voter_id"))
    spark.read.parquet(s"$live/vote_events")
      .join(bills, "bill_id")
      .select(col("bill_identifier"), col("chamber"), explode(col("votes")).as("v"))
      .select(col("bill_identifier"), col("chamber"), col("v.option").as("option"),
        col("v.voter_id").as("voter_id"))
      .join(people, "voter_id")
      .groupBy("bill_identifier", "chamber")
      .agg(count(when(col("option") === "yes", 1)).as("yes"),
        count(when(col("option") === "no", 1)).as("no"))
      .as[(String, String, Long, Long)].collect().toSeq.sorted
  }

  private def matchPeople: DataFrame = spark.read.parquet(s"$wh/people").select(
    col("id"), col("name"), col("given_name").as("first_name"),
    col("family_name").as("last_name"), col("constituent_area_id"), col("chamber"))

  private def ingestDocs(root: String, dir: String): Unit = {
    CivicPipeline.ingest(spark, s"$root/bills",
      CivicPipeline.billsFromJsonDocs(spark, dir, jurisdiction), Seq("id"))
    CivicPipeline.ingest(spark, s"$root/vote_events",
      CivicPipeline.voteEventsFromJsonDocs(spark, dir,
        spark.read.parquet(s"$root/bills"), matchPeople)._1, Seq("id"))
  }

  /** One batch: bills, then vote events, then the read-back, then the
    * checks. Returns (ingest seconds, read-back seconds) of a batch whose
    * checks passed. */
  private def batch(b: JsonNode, timed: Boolean): Option[(Double, Double)] = {
    val name = b.get("dir").asText
    val bdir = s"$civic/$name"
    spans("op", name) { op =>
      op.attrs("timed") = timed
      op.attrs("source_bytes") = b.get("source_bytes").asLong
      out.attempted += 1
      val (c0, n0) = codegen()
      try {
        spans("phase", "bills") { _ =>
          val bills = spans("call", "build")(_ => CivicPipeline.billsFromJsonDocs(spark, bdir, jurisdiction))
          spans("call", "ingest")(_ => CivicPipeline.ingest(spark, s"$live/bills", bills, Seq("id")))
        }
        spans("phase", "vote_events") { _ =>
          val events = spans("call", "build") { _ =>
            CivicPipeline.voteEventsFromJsonDocs(spark, bdir,
              spark.read.parquet(s"$live/bills"), matchPeople)._1
          }
          spans("call", "ingest")(_ => CivicPipeline.ingest(spark, s"$live/vote_events", events, Seq("id")))
        }
        val ingestS = (System.nanoTime() - op.startNs) / 1e9
        val r0 = System.nanoTime()
        val got = spans("phase", "readback")(_ => readback(strings(b.get("bill_identifiers"))))
        val readS = (System.nanoTime() - r0) / 1e9
        val (c1, n1) = codegen()
        op.attrs("codegen_compiles") = c1 - c0
        op.attrs("codegen_ns") = n1 - n0
        // checks: outside every phase, so outside the latency samples
        val want = b.get("tallies").elements().asScala.map { t =>
          (t.get(0).asText, t.get(1).asText, t.get(2).asLong, t.get(3).asLong)
        }.toSeq.sorted
        val nBills = spark.read.parquet(s"$live/bills").count()
        val nEvents = spark.read.parquet(s"$live/vote_events").count()
        val (bb, bf) = bytesOf(s"$live/bills")
        val (eb, ef) = bytesOf(s"$live/vote_events")
        op.attrs ++= Seq("table_bytes" -> (bb + eb), "table_files" -> (bf + ef))
        val wantBills = b.get("bills_total").asLong
        val wantEvents = b.get("vote_events_total").asLong
        if (nBills != wantBills) {
          out.fail(s"$name: bills has $nBills rows, generator made $wantBills"); None
        } else if (nEvents != wantEvents) {
          out.fail(s"$name: vote_events has $nEvents rows, generator made $wantEvents"); None
        } else if (got != want) {
          out.fail(s"$name: read-back tallies $got != $want"); None
        } else Some((ingestS, readS))
      } catch {
        case e: Exception => out.fail(s"$name: ${e.getClass.getName}: ${e.getMessage}"); None
      }
    }
  }

  def run(): Result = {
    spans("op", "roster") { op =>
      op.attrs("timed") = false
      out.attempted += 1
      val states = manifest.get("states").elements().asScala
        .map(s => (s.get(1).asText, s.get(0).asText)).toSeq
        .toDF("state_name", "abbreviation")
      val people = CivicPipeline.peopleFromYaml(spark, s"$civic/people/*.yml",
        Timestamp.valueOf("2026-01-01 00:00:00"), states)
      CivicPipeline.ingest(spark, s"$wh/people", people, Seq("id"))
      val n = spark.read.parquet(s"$wh/people").count()
      if (n != manifest.get("people").asLong) out.fail(s"roster: people has $n rows")
    }
    spans("pass", "warmup") { _ =>
      batches.take(Civic.WarmupBatches).foreach(b => batch(b, timed = false))
    }
    val seconds = args("seconds").toDouble
    val window = new Window(seconds)
    val ingest = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val reads = scala.collection.mutable.ArrayBuffer[Double]()
    var docs = 0L
    var firstTimedMs = 0L
    var next = Civic.WarmupBatches
    while (next < batches.size && window.open) {
      val b = batches(next)
      val lsh0 = lshTotals(lsh)
      val p = spans("pass", s"pass${next - Civic.WarmupBatches}") { ps =>
        ps.attrs("timed") = true
        if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
        batch(b, timed = true).foreach { case (i, r) =>
          ingest += b.get("dir").asText -> i; reads += r; docs += b.get("docs").asLong
          window.samples += window.passes.size -> i
        }
        ps
      }
      window.passes += p.seconds
      if (traced) {
        val (rdds, bytes) = pinState(spark)
        val lsh1 = lshTotals(lsh)
        p.attrs ++= Seq("pinned_rdds" -> rdds, "pinned_bytes" -> bytes,
          "lsh_buckets" -> (lsh1._1 - lsh0._1), "lsh_over_cap" -> (lsh1._2 - lsh0._2))
      }
      next += 1
    }
    // the latest file of every bill and every vote event of the batches
    // ingested, in one directory, into an empty warehouse
    val layer = spans("op", "oneshot") { op =>
      op.attrs("timed") = false
      out.attempted += 1
      try {
        val dir = Files.createDirectories(Paths.get(s"$wh/oneshot-docs"))
        val done = batches.take(next)
        val billFiles = done.flatMap(_.get("bill_files").elements().asScala
          .map(f => f.get(0).asText -> f.get(1).asText)).toMap
        (billFiles.values ++ done.flatMap(b => strings(b.get("event_files")))).foreach { f =>
          Files.copy(Paths.get(s"$civic/$f"), dir.resolve(Paths.get(f).getFileName))
        }
        ingestDocs(s"$wh/oneshot", dir.toString)
        val want = tables(s"$wh/oneshot")
        val got = tables(live)
        if (got != want) out.fail(s"final tables $got != one-shot $want")
        if (traced) resolution(s"$live/vote_events") else Nil
      } catch {
        case e: Exception => out.fail(s"one-shot ingest: ${e.getClass.getName}: ${e.getMessage}"); Nil
      }
    }
    val ingestSeconds = ingest.map(_._2).sum
    val metrics = window.metrics ++
      latency("ingest", ingest.map(_._2).toSeq) ++ latency("readback", reads.toSeq) ++
      Seq(Metric("docs_per_s", if (ingestSeconds > 0) docs / ingestSeconds else 0.0, "docs/s", ingest.size))
    Result(metrics, firstTimedMs, layer, ingest.toSeq)
  }

  /** Share of the live votes resolved to a person, and to the person the
    * generator intended. */
  private def resolution(table: String): Seq[(String, Any)] = {
    val truth = spark.read.option("header", "true").csv(s"$civic/truth.csv")
      .select(col("event"), col("pos").cast("int").as("pos"), col("person_id"))
    val people = spark.read.parquet(s"$wh/people").select(col("id").as("voter_id"), lit(1).as("known"))
    val votes = spark.read.parquet(table)
      .select(col("identifier").as("event"), posexplode(col("votes")).as(Seq("pos", "v")))
      .select(col("event"), col("pos"), col("v.voter_id").as("voter_id"))
      .join(people, Seq("voter_id"), "left")
      .join(truth, Seq("event", "pos"))
    val r = votes.agg(count(lit(1)), count(col("known")),
      count(when(col("voter_id") === col("person_id"), 1))).head()
    val n = r.getLong(0).toDouble
    Seq("votes" -> r.getLong(0),
      "votes_resolved_ratio" -> (if (n > 0) r.getLong(1) / n else 0.0),
      "votes_correct_ratio" -> (if (n > 0) r.getLong(2) / n else 0.0))
  }
}

object Civic {
  val WarmupBatches = 3
}
