package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** Surface-wide scale gate (round-8): NO query on the driver surface may
  * plan an unpartitioned Window over a row-scale frame. An unpartitioned
  * WindowExec moves its whole input to ONE task — fine for frames whose
  * cardinality is bounded by CONSTRUCTION (sketch buckets, decile rows,
  * per-source allocation keys, calendar days), fatal for frames that
  * grow with the data (the round-6 AUC lesson). Every query whose
  * optimized plan retains an unpartitioned Window must therefore appear
  * in the justified whitelist below; everything row-scale rides
  * `Stats.rangePrefixSums` / `rangePrefixMaxExclusive` instead
  * (StatsSpec pins the op-level plans; this spec sweeps the whole
  * 220-query surface so a new query can't silently reintroduce one).
  *
  * The whitelist maps query name → why its windowed frame is bounded.
  * A whitelisted query whose plan STOPS having an unpartitioned window
  * fails the gate too — stale entries hide regressions. Both sweeps
  * walk the optimized plans of the surface built once, in [[Surface]];
  * the negative control plans its own frame. */
class WindowGateSpec extends SparkTestBase {
  private val sf = Surface.sf

  private val bounded: Map[String, String] = Map(
    "q148_decile_lift" ->
      "cumulative capture over the DECILE frame: exactly `buckets` rows (require-gated <= 1000) for any input size",
    "q163_budget_allocation" ->
      "Hamilton largest-remainder rank over allocation KEYS (per-source dimension, tens to thousands) - the method needs the global remainder order",
    "q174_stratified_sample" ->
      "same Hamilton allocation as q163, one row per STRATUM (market segments: single digits)",
    "q188_rolling_corr" ->
      "7-day rolling frame keyed by calendar DAY - cardinality is the date span, not the event count",
    "q199_dedup_curve" ->
      "top-down cumulative over tau BANDS: 50000-micro steps in [500000, 950000], <= 10 rows by construction",
    "q204_share_of_parent" ->
      "grand-total Window.partitionBy() over the nation x region rollup (dimension-bounded: 25 rows)",
    "q210_rolling_kmv" ->
      "7-day rolling sketch-union frame keyed by calendar DAY, like q188")

  test("every unpartitioned window on the query surface sits on a bounded frame") {
    val offenders = Surface.built.flatMap { case (name, b) =>
      val n = b.qe.optimizedPlan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.size
      if (n > 0) Some(name -> s"$n unpartitioned window(s)") else None
    }
    PlanGates.assertWhitelist(offenders, bounded.keySet,
      "planning an unpartitioned window over an unjustified frame",
      "either port the cumulative to Stats.rangePrefixSums or whitelist " +
        "it here with a bounded-cardinality justification",
      "no unpartitioned window planned anymore")
  }

  // Determinism gate (round 10, generalizing the q127 catch): an
  // order-SENSITIVE window function (row_number/rank/dense_rank/ntile/
  // lag/lead) whose window spec has an EMPTY order is nondeterministic
  // on any real cluster — the rows' within-partition order depends on
  // exchange fetch order, which is stable in one JVM and arbitrary
  // across executor processes. Spark ITSELF plans this shape when it
  // decorrelates `LATERAL (... ORDER BY ... LIMIT n)` (global sort →
  // hash re-exchange → sort by group key only → row_number with no
  // window order): q127 returned varying top-2 picks under the
  // round-10 local-cluster lane at sf0.1 while every single-JVM pass
  // had been green. This sweep catches the whole class mechanically,
  // in-JVM, with no whitelist — there is no legitimate use of an
  // unordered ranking window on this surface.
  test("no order-sensitive window function rides an empty window order") {
    import org.apache.spark.sql.catalyst.expressions.{DenseRank, Lag, Lead,
      NTile, Rank, RowNumber, WindowExpression}
    val offenders = Surface.built.flatMap { case (name, b) =>
      val bad = b.qe.optimizedPlan.collect {
        case w: LWindow => w.windowExpressions.flatMap(_.collect {
          case we: WindowExpression
              if we.windowSpec.orderSpec.isEmpty && (we.windowFunction match {
                case _: RowNumber | _: Rank | _: DenseRank | _: NTile | _: Lag
                    | _: Lead => true
                case _ => false
              }) =>
            we.windowFunction.prettyName
        })
      }.flatten
      if (bad.nonEmpty) Some(s"$name: ${bad.distinct.mkString(",")}") else None
    }
    assert(offenders.isEmpty,
      s"queries planning an order-sensitive window function with an " +
        s"EMPTY window order (nondeterministic across executors):\n  " +
        s"${offenders.mkString("\n  ")}\n— give the window an explicit " +
        "ORDER BY (see q127's lateral top-k fix)")
  }

  // Negative control: the detector must FIRE on q127's pre-fix shape —
  // the natural `LATERAL (... ORDER BY ... LIMIT n)`, which Spark
  // decorrelates into an unordered row_number. If Spark's rewrite ever
  // starts preserving the order (making that spelling safe again),
  // this control fails and the gate's rationale should be revisited.
  test("the empty-order detector fires on the decorrelated lateral limit") {
    import org.apache.spark.sql.catalyst.expressions.{RowNumber, WindowExpression}
    graft.Tables.t(spark, sf, "customer").createOrReplaceTempView("wg_cust")
    graft.Tables.t(spark, sf, "orders").createOrReplaceTempView("wg_ord")
    val old = spark.sql("""
      SELECT c_custkey, o_orderkey
      FROM wg_cust c,
      LATERAL (
        SELECT o_orderkey FROM wg_ord o WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    val unorderedRanks = old.queryExecution.optimizedPlan.collect {
      case w: LWindow => w.windowExpressions.flatMap(_.collect {
        case we: WindowExpression
            if we.windowSpec.orderSpec.isEmpty &&
              we.windowFunction.isInstanceOf[RowNumber] => we
      })
    }.flatten
    assert(unorderedRanks.nonEmpty,
      "Spark no longer plans the lateral ORDER BY+LIMIT as an unordered " +
        "row_number — re-evaluate whether the q127 explicit-window " +
        "spelling and this gate are still needed")
  }
}
