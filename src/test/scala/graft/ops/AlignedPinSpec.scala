package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Pin.PinSyntax

/** Layout-aligned pinning (`spark.graft.pin.alignedLayout`): the
  * network-shuffle deployment knob. Pins the mechanism (a checkpoint
  * taken under AQE forgets its layout; the aligned pin declares it on
  * the pinned frame, with AQE left on), and — the part a deployment
  * actually relies on — that flipping the knob never changes kernel
  * OUTPUT, only plan shape. */
class AlignedPinSpec extends SparkTestBase {

  import spark.implicits._

  private def withAligned[A](on: Boolean)(f: => A): A = {
    spark.conf.set(Pin.AlignConf, on.toString)
    try f finally spark.conf.unset(Pin.AlignConf)
  }

  test("aligned pin preserves the declared hash layout; AQE restored") {
    val df = spark.range(1000)
      .select((col("id") % 100).as("src"), (col("id") % 7).as("dst"))
    withAligned(true) {
      val p = df.pinnedBy(col("src"))
      val part = p.queryExecution.executedPlan.outputPartitioning
      assert(part.toString.startsWith("hashpartitioning(src"), part.toString)
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("knob off = plain pin (today's Spark forgets layout through AQE)") {
    val df = spark.range(1000)
      .select((col("id") % 100).as("src"), (col("id") % 7).as("dst"))
    withAligned(false) {
      val p = df.pinnedBy(col("src"))
      // documents the Spark 4.1 behavior the aligned mode exists to fix:
      // if an upgrade starts preserving layout through AdaptiveSparkPlan,
      // this assert fails and the declared layout can be retired
      assert(p.queryExecution.executedPlan.outputPartitioning
        .toString.startsWith("UnknownPartitioning"))
    }
  }

  test("default resolves by master type; explicit conf always wins") {
    // the pure rule (round 11): local[*] masters → off (in-process
    // shuffle is free, aligning costs AQE coalescing); anything that
    // crosses a process boundary → on (round-10 local-cluster pricing:
    // wins both wall and bytes on the iterative kernels)
    assert(!Pin.defaultAligned(masterIsLocal = true))
    assert(Pin.defaultAligned(masterIsLocal = false))
    // this suite runs local[4] → with no conf set, resolution says OFF
    assert(!spark.conf.getOption(Pin.AlignConf).isDefined)
    assert(spark.sparkContext.isLocal)
    assert(!Pin.aligned(spark))
    // explicit conf overrides the resolution in either direction
    withAligned(true)(assert(Pin.aligned(spark)))
    withAligned(false)(assert(!Pin.aligned(spark)))
    // and after the override is unset, resolution is back in charge
    assert(!Pin.aligned(spark))
  }

  test("pageRank / HITS / BFS outputs are bit-identical under either mode") {
    val edges = (for {
      i <- 0L until 160L
      src = (i * 7919) % 40
      dst = (i * 104729 + 13) % 40
      if src != dst
    } yield (src, dst)).distinct.toDF("src", "dst")
    val probes = Seq(0L, 1L, 2L).toDF("probe")
    def all() = (
      Graph.pageRank(edges, "src", "dst", 5).as[(Long, Long)]
        .collect().toMap,
      Graph.hits(edges, "src", "dst", 3).as[(Long, Long, Long)]
        .collect().sorted.toSeq,
      Graph.bfsDistances(edges, "src", "dst", probes, "probe", 4)
        .as[(Long, Long, Int)].collect().sorted.toSeq)
    val off = withAligned(false)(all())
    val on = withAligned(true)(all())
    assert(off === on)
  }
}
