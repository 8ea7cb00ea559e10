package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Surface-wide scale gate #2 (round-9, the [[WindowGateSpec]] recipe
  * applied to the second scale-killer class): NO query on the driver
  * surface may plan a CartesianProduct or a BroadcastNestedLoopJoin
  * whose BROADCAST side could be row-scale. Both operators are
  * O(|L|·|R|) and the broadcast side must additionally fit in every
  * executor — fine when that side is bounded by CONSTRUCTION, fatal
  * when it grows with the data.
  *
  * Rather than a 60-name whitelist (too coarse — a listed query could
  * grow a NEW row-scale nested loop invisibly), the gate checks each
  * offending node STRUCTURALLY: the build side's subtree must contain
  * one of the bounded-by-construction shapes this library actually
  * uses —
  *
  *  - a global aggregate (empty grouping): exactly one row — the
  *    `crossJoin(broadcast(totals))` / packed-codebook pattern;
  *  - a grouping ONLY on `spark_partition_id()`-derived columns
  *    (`__pid`/`__tp`): at most `numParts` rows — the triangular
  *    offset join inside `Stats.rangePrefix*`;
  *  - a literal `limit(n)`: n is a compile-time constant — probe
  *    frames, top-k candidate pools;
  *  - a local relation: literal data, never data-scale.
  *
  * Anything else must appear in the name whitelist below with a
  * bounded-cardinality justification; a whitelisted query that stops
  * planning an unexplained node fails too (stale entries hide
  * regressions). The sweep inspects `queryExecution.sparkPlan` — the
  * pre-AQE physical plan; AQE can only narrow a join at runtime — of
  * the surface built once, in [[Surface]]. */
class JoinGateSpec extends SparkTestBase {

  /** query name → why its non-structurally-provable side is bounded. */
  private val bounded: Map[String, String] = Map(
    "q19_ann_topk" ->
      "broadcast side is the 20-probe slice (vec_id < 20) of the exact-kNN gauge; corpus side streams - scale path is ivfTopK per Scaladoc",
    "q92_ann_recall" ->
      "same 20-probe broadcast as q19 (recall gauge needs the exact truth)",
    "q101_hard_negatives" ->
      "20-anchor broadcast slice; exact kernel is the oracle - scale path is ANN over-fetch + label filter (documented at the query)",
    "q105_pca_ann_recall" ->
      "20-probe broadcast in both the full-dim truth and reduced-dim arms",
    "q108_triplet_mine" ->
      "50-anchor broadcast slice; one corpus scan + max-struct partial aggs",
    "q125_mmr_rerank" ->
      "20-probe broadcast feeding bruteForceTopK; the MMR stage itself is candidate-keyed",
    "q156_matryoshka_recall" ->
      "20-probe broadcast repeated once per truncation dim (8/16/32/64)",
    "q94_hybrid_rrf" ->
      "dense arm broadcasts the ~1% probe slice (vec_id % 97 = 0); the BM25 arm is postings-partitioned",
    "q96_retrieval_eval" ->
      "same ~1% probe broadcast as q94 for the cross-modal truth",
    "q157_semantic_decon" ->
      "broadcast side is the benchmark-eval slice (2% id stride) - eval sets are small by nature; scale path is ivfTopK with evals as corpus (nearestOver Scaladoc)",
    "q73_mutual_knn" ->
      "exact all-pairs BY ORACLE DESIGN (corpus broadcast against itself); documented index-composable scale path (VERDICT r7/r8 endorse)",
    "q109_knn_label_agreement" ->
      "leave-one-out exact kNN, same oracle-design all-pairs as q73",
    "q102_prototype_audit" ->
      "broadcast side is per-LABEL mean prototypes - bounded by label cardinality, not data",
    "q151_chi2" ->
      "contingency marginals broadcast - bounded by event_type x hour-of-day dimensions",
    "q98_source_overlap" ->
      "per-SOURCE gram profiles under a source_a < source_b triangular condition - bounded by source count",
    "q89_ann_pq" ->
      "broadcast side is the 20-probe slice joined with its M x ksub ADC lookup tables (probes x tiny codebook cross) - the q19 probe-slice class; the corpus side streams as (id, M codes)",
    "q187_gap_fill" ->
      "broadcast side is the calendar-day spine (explode of the 1-row min/max span agg) x distinct event-type dimension - bounded by days-in-span x type cardinality, never row count")

  /** Offending nodes whose bounded side can NOT be proven structurally
    * (PlanGates' dominance walk: the bound must dominate the side's root). */
  private def unexplained(plan: SparkPlan): Seq[String] = plan.collect {
    case c: CartesianProductExec
        if !(PlanGates.boundedByConstruction(c.left) ||
          PlanGates.boundedByConstruction(c.right)) =>
      "CartesianProduct"
    case b: BroadcastNestedLoopJoinExec if !PlanGates.boundedByConstruction(
        b.buildSide match { case BuildLeft => b.left; case BuildRight => b.right }) =>
      s"BroadcastNestedLoopJoin(${b.joinType})"
  }

  test("every cartesian/nested-loop join on the query surface has a " +
    "provably bounded build side") {
    val offenders = Surface.built.flatMap { case (name, b) =>
      val nodes = unexplained(b.qe.sparkPlan)
      if (nodes.nonEmpty) Some(name -> nodes.mkString(", ")) else None
    }
    PlanGates.assertWhitelist(offenders, bounded.keySet,
      "planning a cartesian/nested-loop join whose build side is not " +
        "bounded by construction",
      "give the join equi-keys (blocking/banding), bound the broadcast " +
        "side, or whitelist it here with a justification",
      "every nested-loop build side is now structurally bounded")
  }
}
