package graft

import org.apache.spark.sql.functions._

/** Surface-wide scale gate #5 (round 14 — generalizing the class the
  * round-13 sf10 failure lived in, VERDICT r13 next-round #2): NO query
  * may feed a join from an explode whose output cardinality is neither
  * structurally bounded nor justified in the whitelist below. Catalyst's
  * `Generate` stats do not model fan-out, and aggregates/deduplicates
  * above the explode do not re-ground the estimate — so AQE can convert
  * a join against the exploded side to a broadcast at any true size
  * (pre-prefilter q18: estimated 12 MiB, collected 7.4 GiB into the
  * driver; a broadcast build IS a driver collect, so a 1000-executor
  * cluster dies identically). The predicate is
  * [[PlanGates.explodeFedJoinSides]]; every flagged query carries prose
  * here saying why its exploded side cannot be row-explosive at the
  * join, and stale entries fail (the [[BroadcastGateSpec]] discipline).
  *
  * Same two sweeps as the broadcast gate: the returned frame's
  * optimized plan, plus every eager QueryExecution the construction
  * runs (index builds, Lloyd rounds, pinned stages), both over the
  * surface built once, in [[Surface]]. */
class ExplodeJoinGateSpec extends SparkTestBase {
  private val sf = Surface.sf

  // shared justification prose — the flagged queries are instances of
  // four kernel disciplines, not 33 bespoke shapes
  private val Prefiltered =
    "embedding candidates are Hamming-capped INSIDE the explode stage " +
      "(Dedup.prefilteredBucketPairs, srpHamMax tail bounds): what " +
      "survives approximates the TRUE near-dup set, so any join " +
      "strategy AQE picks for the id-only verify rejoin is cheap - " +
      "measured at sf10 (BASELINE.md r13: zero spill, wire = bucket " +
      "payloads + true pairs)"
  private val CappedText =
    "text-LSH candidates: capped-bucket combinations (collectMinK, " +
      "maxBucket cap = the per-bucket pair ceiling) of id-only structs; " +
      "band geometry keeps background buckets tiny and the verify " +
      "rejoin carries ids only - measured linear through sf10 " +
      "(tools/sf10_smoke.sh, 14x-gate green)"
  private val PairAggregated =
    "basket/adjacency pair expansion PARTIAL-AGGREGATES into a " +
      "minSupport-filtered item-pair support table before any join " +
      "(explode feeds groupBy(item_a,item_b) with map-side combine - " +
      "Analytics.pairSupport/itemCooccurrence, the latter slice-capped " +
      "at maxItemsPerUser): what reaches a join is the dimension-sized " +
      "pair table, and the per-basket arrays are DISTINCT item sets " +
      "bounded by the catalog, never row-scale collections"
  private val FixedK =
    "explode of a bounded-heap top-k array (topKByScore/rankTopK): " +
      "fan-out is the LITERAL k/nProbe per probe row, a constant the " +
      "query names - the exploded side is probes x k"

  /** query name → why its explode-fed join side cannot be explosive. */
  private val justified: Map[String, String] = Map(
    // embedding near-dup family: the round-13 fix itself
    "q18_embedding_neardup" -> Prefiltered,
    "q53_embedding_srp" -> Prefiltered,
    "q100_semdedup" -> Prefiltered,
    "q218_embedding_eval" -> Prefiltered,
    // text-LSH candidate pairs and their consumers (pairs -> CC ->
    // apply/split/best/histogram/merge; q191 audits the same stack)
    "q15_minhash_lsh" -> CappedText,
    "q17_ngram_jaccard" -> CappedText,
    "q67_incremental_dedup" -> CappedText,
    "q47_dedup_apply" -> CappedText,
    "q50_leakage_split" -> CappedText,
    "q75_dedup_best" -> CappedText,
    "q84_cluster_histogram" -> CappedText,
    "q87_merge_components" -> CappedText,
    "q191_lsh_eval" -> CappedText,
    // basket/graph pair-support family (the graph queries' edge list
    // IS the aggregated pair table)
    "q129_item_cf" -> PairAggregated,
    "q154_copurchase" -> PairAggregated,
    "q155_triangles" -> PairAggregated,
    "q180_modularity" -> PairAggregated,
    "q182_label_prop" -> PairAggregated,
    "q186_cc_exact" -> PairAggregated,
    "q203_frequent_triples" -> PairAggregated,
    "q209_assortativity" -> PairAggregated,
    "q216_kcore" -> PairAggregated,
    // ANN top-k frames joined downstream
    "q91_ann_ivfpq" -> FixedK,
    "q92_ann_recall" -> FixedK,
    "q95_ann_refine" -> FixedK,
    "q96_retrieval_eval" -> FixedK,
    "q105_pca_ann_recall" -> FixedK,
    "q109_knn_label_agreement" -> FixedK,
    "q125_mmr_rerank" -> FixedK,
    "q156_matryoshka_recall" -> FixedK,
    "q222_knn_agreement_indexed" -> FixedK,
    // query-specific shapes
    "q76_weighted_sample" ->
      ("winners = explode of the per-group top-k weighted-reservoir " +
        "heap (k = 5) feeding a left_semi: the exploded side is " +
        "groups x k, group-dimension bounded"),
    "q98_source_overlap" ->
      ("the exploded arrays are sorted DISTINCT SOURCE sets per gram " +
        "(<= source cardinality each); the pair explode aggregates to " +
        "the source-pair table before the join, and the join sides are " +
        "broadcast per-source totals - everything is source-dimension " +
        "sized however big the corpus grows"))

  test("every explode-fed join side on the query surface is justified — " +
    "including eager index-build plans") {
    val offenders = Surface.built.flatMap { case (name, b) =>
      val all = PlanGates.optimizedFlags(b)(PlanGates.explodeFedJoinSides)
      if (all.nonEmpty) Some(name -> all.mkString(", ")) else None
    }
    PlanGates.assertWhitelist(offenders, justified.keySet,
      "joining against an explode-descended side with no structural bound",
      "cap the pairs inside the explode stage (the prefilter discipline), " +
        "bound the side structurally, or justify it in this gate's whitelist",
      "no explode-fed join side planned any more")
  }

  test("negative control: the pre-prefilter q18 candidate shape is " +
    "flagged; a limit above the explode is not") {
    // the EXACT round-13 failure shape: in-bucket pair explosion →
    // dropDuplicates → id-only verify rejoin. The dedup does NOT save
    // it — Catalyst's estimate flows through both the Generate and the
    // Deduplicate unmodeled, which is how AQE broadcast 7.4 GiB.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val buckets = base
      .withColumn("bk", pmod(xxhash64(col("id")), lit(16)))
      .groupBy("bk").agg(collect_list(col("id")).as("vs"))
    val pairs = buckets
      .select(explode(flatten(transform(col("vs"), x =>
        transform(col("vs"), y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val preFixShape = pairs
      .join(base.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
    assert(PlanGates.explodeFedJoinSides(
      preFixShape.queryExecution.optimizedPlan).nonEmpty,
      "the gate must flag the pre-prefilter candidate-rejoin shape " +
        "(explode → dropDuplicates → join)")
    // structural bound above the explode: a limit really does cap what
    // any mis-broadcast could collect — must pass
    val boundedShape = pairs.limit(100)
      .join(base.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
    assert(PlanGates.explodeFedJoinSides(
      boundedShape.queryExecution.optimizedPlan).isEmpty,
      "a limit-bounded exploded side must pass the gate structurally")
    // and a join with NO generate anywhere must not trip it
    val plain = base.join(
      base.select(col("id"), col("v").as("v2")), "id")
    assert(PlanGates.explodeFedJoinSides(
      plain.queryExecution.optimizedPlan).isEmpty)
  }
}
