package graft

import org.apache.spark.sql.functions._

import graft.ops.QueryMetrics

/** Surface-wide scale gate #4 (round 12 — the class VERDICT r11's one
  * weak lived in): NO query may carry an explicit `broadcast()` hint
  * whose hinted side could be row-scale. A stats-driven auto-broadcast
  * is self-correcting — the planner stops broadcasting a side that
  * outgrows `autoBroadcastJoinThreshold` — but a HINT forces the
  * broadcast at any size, so a hinted side that grows with the data is
  * a guaranteed out-of-memory at 100 TB (round 11's `ivfSelfTopK`
  * centroid table: C = n/stride rows, linear in the corpus). The gate
  * proves each hinted side bounded STRUCTURALLY
  * ([[PlanGates.boundedByConstructionLogical]] — a literal limit, a
  * global/partition-axis aggregate, a local relation, or
  * joins/unions/shrinking wrappers thereof); anything else must appear
  * in the whitelist below with a bounded-cardinality justification, and
  * a whitelisted query that stops planning an unexplained hint fails
  * too (stale entries hide regressions).
  *
  * Two sweeps per query, because index-building kernels run EAGER
  * Lloyd/training rounds at query-construction time whose plans never
  * appear under the returned frame: (a) the returned DataFrame's
  * optimized plan; (b) every QueryExecution the construction itself
  * executed, captured by [[QueryMetrics.capture]] (this is the
  * sweep that would have caught round 11's unbounded first-round
  * centroid broadcast inside `refineCentroids`). Both walk the surface
  * built once, in [[Surface]]; the negative controls plan their own
  * frames. */
class BroadcastGateSpec extends SparkTestBase {
  private val sf = Surface.sf

  /** query name → why its non-structurally-provable hinted side is
    * bounded. Entries mirror (and must stay consistent with)
    * [[JoinGateSpec]]'s nested-loop whitelist where both gates see the
    * same broadcast. Justification classes, most common first:
    * (a) PROBE/EVAL SLICE — a literal-predicate slice of the corpus
    * (20 probes, 2% eval stride) whose size is fixed by the query, not
    * the data; (b) DIMENSION-CARDINALITY AGGREGATE — a groupBy whose
    * key domain is a dimension (source, label, item family, query
    * term), so the aggregate output is dimension-sized however big the
    * fact side grows; (c) FIXED DIMENSION TABLE — nation (25) /
    * region (5), constant at every TPC-H SF by spec; (d) ORACLE-DESIGN
    * ALL-PAIRS — the exact twins that deliberately broadcast the corpus
    * against itself, with q221/q222 as the executable indexed swap. */
  private val bounded: Map[String, String] = Map(
    // (c) fixed dimension tables
    "q06_region_rollup" ->
      "nation (25 rows) and region (5 rows) lookups - TPC-H fixed cardinality at every SF",
    "q26_rollup" ->
      "nation/region dimension joins - fixed 25/5 rows at every SF",
    "q41_cube" ->
      "nation/region dimension joins - fixed 25/5 rows at every SF",
    // (a) probe / eval slices
    "q19_ann_topk" ->
      "20-probe slice (vec_id < 20) of the exact-kNN gauge; corpus side streams - scale path is ivfTopK (JoinGateSpec twin entry)",
    "q20_ann_ivf" ->
      "the same 20-probe slice, cell-assigned: an aggregate keyed by probe id over probes x bounded centroids",
    "q89_ann_pq" ->
      "20-probe slice joined with its M x ksub ADC tables (JoinGateSpec twin entry)",
    "q91_ann_ivfpq" ->
      "20-probe slice + its per-probed-cell ADC tables (probes x nProbe rows)",
    "q92_ann_recall" ->
      "same 20-probe broadcast in both the exact-truth and IVF-PQ arms",
    "q95_ann_refine" ->
      "20-probe slice through candidate generation and exact refine",
    "q105_pca_ann_recall" ->
      "20-probe broadcast in both the full-dim truth and reduced-dim arms (JoinGateSpec twin entry)",
    "q125_mmr_rerank" ->
      "20-probe broadcast feeding bruteForceTopK (JoinGateSpec twin entry)",
    "q156_matryoshka_recall" ->
      "20-probe broadcast repeated once per truncation dim (JoinGateSpec twin entry)",
    "q101_hard_negatives" ->
      "20-anchor broadcast slice (JoinGateSpec twin entry)",
    "q108_triplet_mine" ->
      "50-anchor broadcast slice (JoinGateSpec twin entry)",
    "q157_semantic_decon" ->
      "2% id-stride benchmark-eval slice - eval sets are small by nature (JoinGateSpec twin entry)",
    "q94_hybrid_rrf" ->
      "~1% probe slice in the dense arm; the sparse arm broadcasts the query-term set (bounded by the query slice, not the corpus)",
    "q96_retrieval_eval" ->
      "same ~1% probe slice + query-term set as q94",
    "q93_bm25_retrieval" ->
      "qterms = distinct terms OF THE QUERY SLICE - bounded by the query set; postings/df stay corpus-side (Retrieval.scala comment: AQE decides)",
    "q58_contamination" ->
      "benchmark n-gram set - eval suites are small by nature; the corpus-scale path is the Bloom variant (q66)",
    // (b) dimension-cardinality aggregates
    "q71_mixture_resample" ->
      "source -> weight mixture spec - bounded by source cardinality",
    "q102_prototype_audit" ->
      "per-LABEL mean prototypes - bounded by label cardinality (JoinGateSpec twin entry)",
    "q144_mad_outliers" ->
      "per-group median/MAD tables (two quantilesDisc passes) - group cardinality; the eager pass is the localCheckpoint of the same shape",
    // groupedCum's fused per-(pid, group) offsets frame (round 16): the
    // hinted side is <= |groups| + numParts rows, and each of these
    // callers groups on a dimension (l_returnflag: 3, event_type: ~10,
    // metric tag: 2) - group cardinality, not row scale. The hint is
    // load-bearing: unhinted, the planner broadcast the WINDOW side.
    "q36_percentile" ->
      "groupedCum offsets keyed on (pid, metric x returnflag) - dimension cardinality",
    "q142_exact_quantiles" ->
      "groupedCum offsets keyed on (pid, l_returnflag) - dimension cardinality",
    "q145_sketch_quantiles" ->
      "groupedCum offsets keyed on (pid, l_returnflag) - dimension cardinality",
    "q149_cont_quantiles" ->
      "groupedCum offsets keyed on (pid, l_returnflag) - dimension cardinality",
    "q167_weighted_quantiles" ->
      "groupedCum offsets keyed on (pid, l_returnflag) - dimension cardinality",
    "q185_lateness" ->
      "groupedCum offsets keyed on (pid, event_type) - dimension cardinality",
    "q196_winsorize" ->
      "groupedCum offsets keyed on (pid, event_type) - dimension cardinality",
    "q147_source_kl" ->
      "per-source token totals - source cardinality",
    "q154_copurchase" ->
      "per-item-family support margins - item-dimension cardinality (<= 1000 families by construction)",
    "q98_source_overlap" ->
      "per-SOURCE gram profiles under a triangular pair condition - source cardinality (JoinGateSpec twin entry)",
    // (d) oracle-design exact all-pairs
    "q73_mutual_knn" ->
      "exact all-pairs BY ORACLE DESIGN; executable indexed twin is q221 (JoinGateSpec twin entry)",
    "q109_knn_label_agreement" ->
      "leave-one-out exact kNN, same oracle-design all-pairs; indexed twin is q222",
    "q218_embedding_eval" ->
      "eager pin of the exact near-dup truth arm - oracle-design all-pairs audit",
    "q223_knn_index_eval" ->
      "eager pin of the exact self-kNN truth arm - the audit needs the exact twin by design",
    "q224_knn_index_eval_steered" ->
      "same eager exact-twin pin as q223 (shared knnIndexAudit body) - only the indexed arm's probe budget differs",
    // pipeline reference lookups
    "q219_civic_e2e" ->
      "eager civic pipeline stages broadcast state-FIPS / chamber-map reference tables - fixed ~50-row civic dimensions")

  test("every explicit broadcast hint on the query surface has a " +
    "provably bounded hinted side — including eager index-build plans") {
    // per query: unbounded hinted sides (the offense) AND whether it
    // plans any explicit hint, bounded or not (the whitelist-hygiene
    // denominator — distinguishes "hint gone" from "hint now bounded")
    val built = Surface.built
    val offenders = built.flatMap { case (name, b) =>
      val all = PlanGates.optimizedFlags(b)(PlanGates.unboundedBroadcastHints)
      if (all.nonEmpty) Some(name -> all.mkString(", ")) else None
    }
    val hinted = built.collect { case (name, b)
        if (b.qe +: b.eager.map(_.qe)).exists(qe =>
          PlanGates.broadcastHintCount(qe.optimizedPlan) > 0) => name }.toSet
    // staleness, BOTH ways (round-13 mandate #5): an entry whose
    // query stopped planning ANY explicit hint is stale in a louder
    // way than one whose hinted side became structurally bounded —
    // name each class separately so the fix is obvious
    val noHint = bounded.keySet -- hinted
    assert(noHint.isEmpty,
      s"whitelist entries whose query no longer plans ANY explicit " +
        s"broadcast hint (planned or eager): ${noHint.mkString(", ")} — " +
        "the query stopped broadcasting; remove the entries")
    PlanGates.assertWhitelist(offenders, bounded.keySet,
      "forcing a broadcast whose hinted side is not bounded by construction",
      "bound the hinted side (limit / aggregate / local relation), drop " +
        "the hint (let stats decide), or whitelist it here with a " +
        "justification",
      "every hinted side is now structurally bounded")
  }

  test("negative control: the round-11 fixed-stride seed shape is flagged, " +
    "the round-12 limit-bounded shape is not") {
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    // round-11 shape: stride filter with NO limit — cell count grows
    // linearly with the corpus, the hinted side is row-scale
    val unboundedSeeds = corpus.filter(col("id") % 50 === 0)
      .select(col("id").as("centroid_id"), col("v").as("cv"))
    val oldShape = corpus.join(broadcast(unboundedSeeds))
    assert(PlanGates.unboundedBroadcastHints(
      oldShape.queryExecution.optimizedPlan).nonEmpty,
      "the gate must flag the round-11 unbounded centroid broadcast")
    // round-12/13 shape: the ivfSeeds pick — stride filter + limit,
    // collected once into a LocalRelation (round 13), the strongest
    // bounded shape the gate recognizes
    val boundedSeeds = graft.ops.Similarity.ivfSeeds(
      corpus, "id", "v", nCells = 0, "gate-spec")
    val newShape = corpus.join(broadcast(boundedSeeds))
    assert(PlanGates.unboundedBroadcastHints(
      newShape.queryExecution.optimizedPlan).isEmpty,
      "the bounded ivfSeeds pick must pass the gate structurally")
  }

  test("negative control for the EAGER sweep: a Lloyd-round-shaped " +
    "unbounded broadcast inside an eager action is flagged") {
    // Round 11's actual bug lived here, not in any final plan: the
    // first refineCentroids round joined the corpus against a
    // broadcast centroid table whose row count grew with the corpus,
    // executed EAGERLY at query-construction time and collected to the
    // driver — no returned DataFrame ever carried the shape. The main
    // gate's eager sweep exists for exactly this; this control proves
    // the capture path actually fires on it
    // (the final-plan control above cannot — its plan never executes).
    def eagerFlags(body: => Unit): Seq[String] =
      QueryMetrics.capture(spark)(body)._2.executions
        .flatMap(x => PlanGates.unboundedBroadcastHints(x.qe.optimizedPlan))
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    // the round-11 Lloyd round: assignment join against UNBOUNDED
    // broadcast centroids, per-cluster means, driver collect
    val unboundedCentroids = corpus.filter(col("id") % 50 === 0)
      .select(col("id").as("centroid_id"), col("v").as("cv"))
    assert(eagerFlags {
        corpus.join(broadcast(unboundedCentroids))
          .groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("n"))
          .collect()
      }.nonEmpty,
      "the eager-execution sweep must flag a Lloyd-round-shaped " +
        "unbounded broadcast executed at construction time")
    // green arm: the same eager shape through the BOUNDED seed pick
    // must pass — the real refineCentroids rounds ride this
    val flagged = eagerFlags {
      val boundedSeeds = graft.ops.Similarity.ivfSeeds(
        corpus, "id", "v", nCells = 0, "gate-spec-eager")
      corpus.join(broadcast(
          boundedSeeds.withColumnRenamed("cv", "cv2")))
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n"))
        .collect()
    }
    assert(flagged.isEmpty, s"bounded eager shape falsely flagged: $flagged")
  }
}
