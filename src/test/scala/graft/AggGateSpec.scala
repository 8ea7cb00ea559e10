package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.expressions.{Literal, SpecifiedWindowFrame, RowFrame}

/** Surface-wide scale gate #3 (round 10 — the [[WindowGateSpec]] /
  * [[JoinGateSpec]] recipe applied to the third scale-killer class):
  * NO query on the driver surface may plan an UNBOUNDED-BUFFER
  * aggregate over a row-scale input. `percentile` / `collect_list` /
  * `collect_set` / `mode` (and their SQL spellings `median`,
  * `percentile_cont/disc`, `listagg`, `histogram_numeric`) hold every
  * distinct value (or every row) of a group in ONE aggregate buffer,
  * and each group's final merge lands on ONE task — so a group whose
  * value domain grows with the data is a multi-GB single-reducer hash
  * map at 100×. This is the gate that would have caught q36's
  * built-in-`percentile` shape mechanically (fixed this round by
  * re-expressing it over `Stats.quantilesCont`).
  *
  * Structural pass: the aggregate's INPUT subtree is bounded by
  * construction ([[PlanGates.boundedByConstruction]] dominance walk) —
  * a buffer can't outgrow a bounded input. Window-function spellings
  * pass when the frame is a ROWS frame with literal finite bounds
  * (buffer ≤ frame width). Anything else must appear in the whitelist
  * below with a justified GROUP-DOMAIN bound; a whitelisted query that
  * stops planning an offending aggregate fails too (stale entries hide
  * regressions). Sweeps `queryExecution.sparkPlan` — pre-AQE, same as
  * the other gates — of the surface built once, in [[Surface]]. */
class AggGateSpec extends SparkTestBase {

  /** query name → why each group's buffer is bounded by its DOMAIN
    * (not by the row count). Recurring bounds: "document size" is a
    * data-contract constant independent of corpus row count (a corpus
    * grows by adding documents, not by growing one document without
    * limit); "dimension cardinality" is a reference-table bound
    * (sources, labels, statuses); basket/session bounds come from the
    * keying entity, not the table. */
  private val bounded: Map[String, String] = Map(
    "q25_collect_set" ->
      "collect_set(l_linestatus) - value domain is the 3 status letters",
    "q42_string_agg" ->
      "listagg's RESULT is the group concatenation - the operator contract is group-row-scale by definition; demo runs over the supplier dimension, and row-scale deployments pre-threshold the group (README string-agg note)",
    "q60_line_dedup" ->
      "collect_list of (pos, line) per DOCUMENT - bounded by document size",
    "q69_boilerplate" ->
      "same per-document line list as q60 (Corpus.lineDedup shape)",
    "q170_setsim_exact" ->
      "PPJoin needs each doc's sorted token array (prefix filter) - bounded by document size",
    "q225_setsim_char_exact" ->
      "same PPJoin kernel over char-6 shingles - per-document token array, bounded by document size",
    "q211_containment" ->
      "same per-document token array as q170 (SetSimilarity kernel)",
    "q199_dedup_curve" ->
      "rides the q170 PPJoin kernel - per-document token array",
    "q98_source_overlap" ->
      "collect_set(source) per gram - bounded by source-dimension cardinality (q78 contract)",
    "q136_dup_flow" ->
      "collect_set(source) per opening-hash - same source-dimension bound",
    "q102_prototype_audit" ->
      "collect_list of (dim, mean) per label - bounded by the embedding dimension (64)",
    "q125_mmr_rerank" ->
      "per-probe candidate list is rankTopK output - at most k x overfetch rows per probe, both plan constants",
    "q113_funnel" ->
      "per-user (ts, stage) list, non-stage events dropped at the scan - user-activity scale; the streaming twin holds the same per-key state in the state store",
    "q123_funnel_latency" ->
      "same per-user stage-event list as q113",
    "q139_funnel_by_arm" ->
      "same per-user stage-event list as q113",
    "q124_session_paths" ->
      "per-SESSION event list - sessions are inactivity-gap-bounded; maxLen caps the path",
    "q129_item_cf" ->
      "collect_set of a user's distinct items - bounded by the item catalog; maxItemsPerUser caps the pair fan-out",
    "q154_copurchase" ->
      "per-basket (order) item-family set - family domain is partkey % 1000 and TPC-H orders hold <= 7 lines",
    // The round-16 EAGER sweep re-gated everything a Pin.pin used to
    // hide (round-15 ADVICE): the entries below are flagged through the
    // QueryExecutionListener walk of pinned subplans, not the final
    // plan. Three recurring bounds:
    //  - pairSupport's per-basket family set (q154's bound) feeding the
    //    graph kernels' edge derivations;
    //  - refineCentroids/pqCodebooks' per-cluster (dim, mean) rebuild
    //    list - bounded by the embedding dimension (q102's bound);
    //  - the PPJoin per-document token array (q170's bound);
    //  - the civic per-vote-event ballot list - chamber-sized.
    "q155_triangles" ->
      "pairSupport per-basket family set (q154 bound), pinned edge derivation",
    "q180_modularity" ->
      "pairSupport per-basket family set (q154 bound), pinned edge derivation",
    "q209_assortativity" ->
      "pairSupport per-basket family set (q154 bound), pinned edge derivation",
    "q182_label_prop" ->
      "pairSupport per-basket family set (q154 bound), pinned edge derivation",
    "q186_cc_exact" ->
      "pairSupport per-basket family set (q154 bound), pinned edge derivation",
    "q216_kcore" ->
      "pairSupport per-basket family set (q154 bound), pinned edge derivation",
    "q191_lsh_eval" ->
      "PPJoin per-document token array (q170 bound), pinned truth arm",
    "q20_ann_ivf" ->
      "Lloyd-round per-cluster (dim, mean) rebuild - bounded by embedding dimension",
    "q89_ann_pq" ->
      "PQ codebook per-subspace (dim, mean) rebuild - bounded by sub-dimension",
    "q91_ann_ivfpq" ->
      "IVF + PQ codebook rebuild lists - bounded by embedding dimension",
    "q92_ann_recall" ->
      "IVF/PQ build collect_list of (dim, mean) - bounded by embedding dimension",
    "q95_ann_refine" ->
      "IVF/PQ build collect_list of (dim, mean) - bounded by embedding dimension",
    "q221_mutual_knn_indexed" ->
      "IVF build collect_list of (dim, mean) - bounded by embedding dimension",
    "q222_knn_agreement_indexed" ->
      "IVF build collect_list of (dim, mean) - bounded by embedding dimension",
    "q223_knn_index_eval" ->
      "IVF build collect_list of (dim, mean) - bounded by embedding dimension",
    "q224_knn_index_eval_steered" ->
      "IVF build collect_list of (dim, mean) - bounded by embedding dimension",
    "q219_civic_e2e" ->
      "per-vote-event ballot list in the eager warehouse build - chamber-sized",
    "q227_civic_vote_join" ->
      "per-vote-event ballot list (CivicPipeline rebuild) - chamber-sized",
    "q203_frequent_triples" ->
      "same per-basket family set, Apriori-filtered to frequent items first",
    "q210_rolling_kmv" ->
      "window collect_list over the per-day sketch series (one row per day, calendar range frame -6..0) - at most 7 k-bounded sketches per frame")

  // aggregate implementations whose buffer holds O(group rows) or
  // O(group distinct values); CollectTopK and the graft sketch/heap
  // aggregates (TopKAgg, CountMinAgg, KmvAgg, ...) are k-bounded by
  // construction and deliberately absent
  private val unboundedClasses = Set(
    "Percentile", "PercentileDisc", "PercentileCont", "Median", "Mode",
    "CollectList", "CollectSet", "ListAgg", "HistogramNumeric")

  private def offendersIn(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] =
    e.collect {
      case ae: AggregateExpression
          if unboundedClasses(ae.aggregateFunction.getClass.getSimpleName) =>
        ae.aggregateFunction.getClass.getSimpleName
    }

  /** ROWS frame with literal finite bounds: the buffer is at most the
    * frame width, a plan constant. */
  private def literalRowsFrame(w: WindowExec): Boolean =
    w.windowExpression.forall(_.collect {
      case f: SpecifiedWindowFrame => f
    }.forall(f => f.frameType == RowFrame &&
      Seq(f.lower, f.upper).forall {
        case Literal(_, _) => true
        case sf2 => sf2.sql == "CURRENT ROW"
      }))

  /** Offending aggregates whose input can NOT be proven bounded. */
  private def unexplained(plan: SparkPlan): Seq[String] = plan.collect {
    case a: BaseAggregateExec
        if !PlanGates.boundedByConstruction(a.child) =>
      a.aggregateExpressions.map(_.aggregateFunction)
        .filter(f => unboundedClasses(f.getClass.getSimpleName))
        .map(f => s"agg:${f.getClass.getSimpleName}")
    case w: WindowExec if !literalRowsFrame(w)
        && !PlanGates.boundedByConstruction(w.child) =>
      w.windowExpression.flatMap(offendersIn).map(n => s"window:$n")
  }.flatten.distinct

  test("every unbounded-buffer aggregate on the query surface has a " +
    "provably bounded input or a justified domain bound") {
    // EAGER sweep (round 16, the BroadcastGateSpec recipe): a
    // Pin.pin (localCheckpoint) executes its subplan at query-
    // construction time, so an unbounded collect INSIDE a pinned frame
    // never appears in the final plan this gate used to walk — pinning
    // had quietly become a way to shield aggregates from the gate
    // (round-15 ADVICE). The sweep walks every QueryExecution the
    // construction runs (its QueryMetrics capture), via its PRE-AQE
    // sparkPlan (same walk as the planned sweep).
    val offenders = Surface.built.flatMap { case (name, b) =>
      val planned = unexplained(b.qe.sparkPlan)
      val eager = b.eager.flatMap(x => unexplained(x.qe.sparkPlan))
        .map(n => s"eager-$n")
      val nodes = (planned ++ eager).distinct
      if (nodes.nonEmpty) Some(name -> nodes.mkString(", ")) else None
    }
    PlanGates.assertWhitelist(offenders, bounded.keySet,
      "planning an unbounded-buffer aggregate over a row-scale input",
      "re-express over the Stats.rangePrefixSums/quantiles* construction, " +
        "cap the buffer (collectMinK/TopKAgg), or whitelist here with a " +
        "group-domain justification",
      "no offending aggregate planned anymore")
  }
}
