package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{QueryMetrics, Similarity}

/** Physical-plan assertions: the properties that matter at 100 TB —
  * filters reaching the parquet scan, column pruning, broadcast joins for
  * dimensions, map-side partial top-k, and the spatial join planning as
  * an equi-join rather than a nested loop. */
class PlanSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plan text of a QUERY including every plan its construction executed
    * eagerly (Pin.pin subplans — round 16: queries that pin their result
    * before the output sort would otherwise show this gate only a
    * Sort-over-checkpoint stub; same capture as AggGateSpec). */
  private def planWithEager(name: String): String = {
    val (df, rec) = QueryMetrics.capture(spark)(SparkEntry.queries(name)(spark, sf))
    // pre-AQE sparkPlan: an EXECUTED AdaptiveSparkPlanExec prints "final
    // + initial" (every expression twice) — sparkPlan is the same single
    // tree the non-eager asserts in this suite read. distinct: one eager
    // action can fire several listener events for the same
    // QueryExecution (e.g. localCheckpoint's materialize + count), which
    // would double-count expression occurrences
    (rec.executions.map(_.qe.sparkPlan.toString) :+
      df.queryExecution.executedPlan.toString).distinct.mkString("\n")
  }

  test("q01: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan(SparkEntry.queries("q01_pruned_scan")(spark, sf))
    assert(p.contains("PushedFilters:"), "no pushed filters in scan")
    assert(p.contains("l_quantity"), "quantity filter not pushed")
    // pruned read schema: only the 5 referenced columns, not all 11
    assert(!p.contains("l_tax"), s"scan reads unneeded columns")
  }

  test("q06: dimension joins are broadcast hash joins") {
    val p = plan(SparkEntry.queries("q06_region_rollup")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "dimension join not broadcast")
    assert(!p.contains("SortMergeJoin"), "unexpected sort-merge join for tiny dims")
  }

  test("q04: semi-join stays a semi-join") {
    val p = plan(SparkEntry.queries("q04_semi_join")(spark, sf))
    assert(p.contains("LeftSemi"), "semi-join lost")
  }

  test("q02: aggregation is partial (map-side combine) + final") {
    val p = plan(SparkEntry.queries("q02_pricing_summary")(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial"),
      "no partial aggregation before the shuffle")
  }

  test("top-k ANN: bounded-heap aggregate runs partial before the exchange") {
    val vecs = Tables.t(spark, sf, "embeddings")
    val df = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 5),
      "vec_id", "embedding", 3)
    val p = plan(df)
    assert(p.contains("ObjectHashAggregate"), "typed aggregate not planned")
    assert(p.contains("partial_topk_by_score"), "top-k not map-side partial")
    assert(!p.contains("Window"), "top-k fell back to a window sort")
  }

  test("q51/q52: corpus scans prune to the text column") {
    Seq("q51_token_topk", "q52_heavy_hitters").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(p.contains("text"), s"$name: text column not read")
      assert(!p.contains("lang") && !p.contains("source"),
        s"$name: scan reads columns the query never uses")
    }
  }

  test("q85 CMS heavy hitters: sketch aggregates partially — only sketches cross the exchange") {
    val p = plan(SparkEntry.queries("q85_cms_heavy_hitters")(spark, sf))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "typed aggregate not planned")
    assert(p.contains("partial_cms_heavy_hitters"),
      "CMS not map-side partial: every row would cross the exchange")
  }

  test("q84 cluster histogram: singleton side is an anti-join, histogram aggs are partial") {
    val p = plan(SparkEntry.queries("q84_cluster_histogram")(spark, sf))
    assert(p.contains("LeftAnti"), "singletons must come from an anti-join")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q18 IVF embedding dedup: bucket assignment aggregates map-side, no window") {
    // planWithEager: the result pins before the output sort (round 16),
    // so the kernel's plan lives in the eager pin execution
    val p = planWithEager("q18_embedding_neardup")
    assert(p.contains("ObjectHashAggregate"), "bucket top-k not a typed aggregate")
    assert(p.contains("partial_topk_by_score"), "bucket assignment not map-side partial")
    assert(!p.contains("Window"), "bucket assignment fell back to a window sort")
    assert(!p.contains("CartesianProduct"), "embedding dedup is a cross product")
  }

  test("spatial join plans as equi-join on grid cells, not nested loop") {
    val p = plan(SparkEntry.queries("q30_spatial_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "spatial join degenerated to a nested loop")
    assert(!p.contains("CartesianProduct"), "spatial join is a cross product")
  }

  test("spatial join: candidate exchange carries ids + cells, not WKB blobs") {
    // AQE off so executedPlan is the concrete exchange tree, traversable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q30_spatial_join")(spark, sf)
      // the cell join's build side may broadcast at tiny SF — either way,
      // whatever exchange moves the cell key must not move geometry
      val cellExchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange
            if e.output.exists(_.name == "__cell") => e
      }
      assert(cellExchanges.nonEmpty, "no cell-key exchange in plan")
      cellExchanges.foreach { e =>
        // geometry is the only BinaryType column; a blob here means WKB
        // fans out once per covered grid cell
        assert(!e.output.exists(_.dataType == org.apache.spark.sql.types.BinaryType),
          s"geometry crosses the candidate shuffle: ${e.output}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q57 hash split is map-only: no exchange before the final sort") {
    // the split itself (before the oracle's ORDER BY) must be pure map
    // work — a split that shuffles or samples cannot be stable under
    // corpus growth. AQE off: AdaptiveSparkPlanExec is a leaf, so a
    // collect over executedPlan would never see an exchange and the
    // assertion could not fail for the regression it guards
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.t(spark, sf, "documents")
      val df = docs.select(col("doc_id"),
        graft.ops.Corpus.hashSplit(col("doc_id"), "split:",
          Seq("cd" -> "train", "e6" -> "val"), "test").as("split"))
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.isEmpty, s"hash split shuffles: ${exchanges.map(_.nodeName)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q58 contamination: benchmark gram membership is a broadcast join") {
    val p = plan(SparkEntry.queries("q58_contamination")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "gram membership not broadcast")
    assert(!p.contains("CartesianProduct"), "contamination is a cross product")
  }

  test("q66 bloom contamination: map-side sketch prefilter, no cartesian") {
    val p = plan(SparkEntry.queries("q66_contamination_bloom")(spark, sf))
    assert(p.contains("might_contain"),
      "bloom prefilter missing — probe grams reach the verify join unfiltered")
    assert(!p.contains("CartesianProduct"), "bloom contamination is a cross product")
  }

  test("q67 incremental dedup: cross band-key equi-join, no cartesian") {
    val p = planWithEager("q67_incremental_dedup") // result pinned (round 16)
    assert(!p.contains("CartesianProduct"),
      "cross-corpus candidates must equi-join on band key, not cross join")
    // both sides' signatures are computed exactly once each: 2 kernel evals
    val evals = "ngram_minhash".r.findAllIn(p).size
    assert(evals >= 1, "minhash kernel missing from the plan — assert is vacuous")
    assert(evals <= 2, s"a side's minhash signature is computed $evals times")
  }

  test("q59 packing: per-shard window, no global single-partition sort") {
    // Window.partitionBy(source) must plan as hashpartitioning(source),
    // never the SinglePartition an un-partitioned window would force
    val p = plan(SparkEntry.queries("q59_sequence_packing")(spark, sf))
    assert(p.contains("Window"), "packing lost its window")
    assert(!p.contains("SinglePartition"),
      "packing window collapsed to a single partition — not parallel by shard")
  }

  test("q68 interval join: binned equi-join, not a broadcast nested loop") {
    val p = plan(SparkEntry.queries("q68_interval_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval containment planned as a nested loop — binning lost")
    assert(!p.contains("CartesianProduct"), "interval join is a cross product")
  }

  test("q70 scd2: both windows ride one partitioning exchange") {
    val p = plan(SparkEntry.queries("q70_scd2")(spark, sf))
    // lag (run collapse) and lead (interval chaining) share the same
    // (key, ts, seq) ordering; a second hashpartitioning would mean the
    // filter between them broke exchange reuse
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"scd2 shuffles $exchanges times")
    assert(!p.contains("SinglePartition"), "scd2 window collapsed to one partition")
  }

  test("q71 mixture resample: weights join is broadcast, explode is map-side") {
    val p = plan(SparkEntry.queries("q71_mixture_resample")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "weights dim not broadcast")
    assert(p.contains("Generate"), "epoch explode missing")
    // beyond the weights broadcast and the final presentation sort there
    // is no wide exchange: the explode must not shuffle
    assert(!p.contains("SortMergeJoin"), "weights join fell back to sort-merge")
  }

  test("q69 boilerplate: frequency pass exchanges line hashes, not line text") {
    val p = plan(SparkEntry.queries("q69_boilerplate")(spark, sf))
    assert(p.contains("xxhash64"), "line-hash projection missing")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "boilerplate set not broadcast into the anti join")
  }

  test("q74 shared windows: one corpus scan, hash exchange, no cartesian") {
    val p = planWithEager("q74_shared_windows") // result pinned (round 16)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "window-gram candidates must group on the gram hash, not cross join")
    // the bucket aggregate is the bounded heap, not collect_list
    assert(p.contains("collect_min_k"), "capped bucket kernel missing")
  }

  test("q76 weighted sample: heap top-k aggregates partially, no window sort") {
    val p = plan(SparkEntry.queries("q76_weighted_sample")(spark, sf))
    assert(p.contains("topkbyscore") || p.contains("TopKByScore") ||
      p.contains("topk_by_score"), s"heap aggregate missing:\n$p")
    assert(p.contains("partial_"), "top-k must partially aggregate map-side")
    assert(!p.contains("Window"), "weighted sample fell back to a window rank")
  }

  test("q77 token budget cap: per-source window, never a single partition") {
    val p = plan(SparkEntry.queries("q77_token_budget_cap")(spark, sf))
    assert(p.contains("Window"), "running-sum window missing")
    assert(!p.contains("SinglePartition"),
      "budget window collapsed to a single partition — not parallel by source")
  }

  test("q29 quantization profile is map-only before the final sort") {
    // per-vector audit columns are pure projection — a shuffle here would
    // mean the op materializes per-element state somewhere it shouldn't
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Similarity.int8QuantizeProfile(
        Tables.t(spark, sf, "embeddings"), "vec_id", "embedding")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.isEmpty, s"quantization profile shuffles: $exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q73 mutual k-NN: probes broadcast, partial heap agg, one edge exchange") {
    val p = plan(SparkEntry.queries("q73_mutual_knn")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probe side not broadcast — corpus would shuffle for scoring")
    assert(p.contains("partial_topk_by_score") || p.contains("TopKByScore") ||
      p.contains("partial"), "top-k not partially aggregated map-side")
    assert(!p.contains("CartesianProduct"),
      "mutual filter fell back to a cartesian product")
  }

  test("q101 hard negatives: anchors broadcast, no cartesian, partial heap agg") {
    val p = plan(SparkEntry.queries("q101_hard_negatives")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "anchor side not broadcast — corpus would shuffle for scoring")
    assert(!p.contains("CartesianProduct"),
      "different-label predicate fell back to a cartesian product")
    assert(p.contains("partial_topk_by_score") || p.contains("TopKByScore") ||
      p.contains("partial"), "top-k not partially aggregated map-side")
  }

  test("q102 prototype audit: prototypes broadcast, argmax is a partial aggregate") {
    val p = plan(SparkEntry.queries("q102_prototype_audit")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "prototype table not broadcast — corpus would shuffle for scoring")
    assert(p.contains("partial_min") || p.contains("partial"),
      "argmax not partially aggregated map-side")
  }

  test("PCA moment pass: one exchange, one partial moments buffer per task") {
    // the corpus-touching stage of Pca.fit must reduce map-side to ONE
    // imperative moments buffer before its single shuffle — no per-cell
    // row materialization
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val vecs = Tables.t(spark, sf, "embeddings")
      val mom = vecs
        .select(transform(col("embedding").cast("array<double>"),
          x => round(x * 1e6).cast("long")).as("vm"))
        .agg(graft.functions.vectorMoments(col("vm"), 64).as("m"))
      val plan = mom.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.length == 1, s"moment pass has ${exchanges.length} exchanges")
      val s = plan.toString
      assert(s.contains("vector_moments"), "moments aggregate missing from the plan")
      assert(s.contains("partial_vector_moments") || s.contains("partial"),
        "moments not partially aggregated before the exchange")
      assert(!s.contains("Generate"), "moment pass still explodes per-cell rows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q113 funnel: one user exchange, fold-not-join, single-row final agg") {
    val df = SparkEntry.queries("q113_funnel")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one user-keyed shuffle + one single-row final-agg exchange — a
    // per-stage self-join formulation would add one per stage
    assert(exchanges.length <= 2, s"funnel has ${exchanges.length} shuffles")
    val s = plan.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
      "funnel planned stage self-joins instead of the per-user fold")
  }

  test("q117 filter funnel is map-only: one single-row exchange, no join") {
    val df = SparkEntry.queries("q117_filter_funnel")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 1, s"filter funnel has ${exchanges.length} shuffles")
    val s = plan.toString
    assert(s.contains("partial"), "survivor counts not partially aggregated")
    assert(!s.contains("Join"), "filter funnel should not join anything")
  }

  test("q119 attribution: one window pass, no touch-conversion self-join") {
    val df = SparkEntry.queries("q119_attribution")(spark, sf)
    val s = plan(df)
    assert(s.contains("Window"), "running-last window missing")
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastNestedLoopJoin"),
      "attribution planned a self-join instead of the running-last window")
  }

  test("q121 rfm: cascaded exact-ntile layers stay within a bounded exchange budget") {
    // pre-fix, each ntile layer's three consumers recomputed the whole
    // chain below it (139 exchanges); the per-layer materialization
    // keeps it flat
    val df = SparkEntry.queries("q121_rfm")(spark, sf)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.length <= 10, s"rfm has ${exchanges.length} exchanges")
  }

  test("q142 exact quantiles: histogram-scale windows, bounded exchange budget") {
    val df = SparkEntry.queries("q142_exact_quantiles")(spark, sf)
    val p = plan(df)
    // the only window sorts run over the per-group distinct-value
    // histogram AFTER a partial-aggregated groupBy — the frame itself
    // must partial-aggregate before anything exchanges
    assert(p.contains("partial_count") || p.contains("partial"),
      "histogram not map-side partial")
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.length <= 5, s"quantiles has ${exchanges.length} exchanges")
  }

  test("q148 decile lift: one ntile layer stays within a bounded exchange budget") {
    val df = SparkEntry.queries("q148_decile_lift")(spark, sf)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.length <= 8, s"decile lift has ${exchanges.length} exchanges")
  }

  test("q146 dup spans: candidate exchange carries gram hashes, not text") {
    val p = plan(SparkEntry.queries("q146_dup_spans")(spark, sf))
    assert(p.contains("word_ngram_hashes"), "fused gram-hash kernel missing")
    assert(p.contains("LeftSemi"), "doc-frequency mark must be a semi join")
  }

  test("q162 corr matrix: all 14 moments ride ONE lineitem scan") {
    val df = SparkEntry.queries("q162_corr_matrix")(spark, sf)
    val scans = df.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"corr matrix scans lineitem $scans times")
  }

  test("q157 semantic decon: corpus never broadcasts; argmax partial-aggregates") {
    val df = SparkEntry.queries("q157_semantic_decon")(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_min") || p.contains("partial"),
      "nearest-ref argmax not map-side partial")
    assert(p.contains("BroadcastExchange"), "eval set not broadcast")
  }

  test("q164 cdc apply: winner is a partial argmax, one row per key shuffles") {
    val p = plan(SparkEntry.queries("q164_cdc_apply")(spark, sf))
    assert(p.contains("partial_max") || p.contains("partial"),
      "CDC winner not map-side partial")
    assert(!p.contains("Window"), "CDC fell back to a window rank")
  }

  test("q134 salted join: join key carries the salt, small side replicates") {
    val df = SparkEntry.queries("q134_salted_join")(spark, sf)
    val s = plan(df)
    assert(s.contains("__salt"), "salt column missing from the join")
    assert(s.contains("Generate"), "small side not replicated via explode")
  }

  test("q181 vector algebra is map-only: zero exchanges, one scan") {
    val df = SparkEntry.queries("q181_vector_algebra")(spark, sf)
    // the ORDER BY contributes the only allowed exchange (plus AQE's
    // possible reuse marker); the folds themselves must add none
    val p = plan(df)
    val exchanges = p.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 2, s"HOF folds introduced exchanges beyond the sort: $exchanges")
    val scans = p.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"vector algebra scans embeddings $scans times")
  }

  test("q170 setsim: candidate join is an equi-join on prefix tokens, no cartesian") {
    val p = plan(SparkEntry.queries("q170_setsim_exact")(spark, sf))
    assert(!p.contains("CartesianProduct"), "set-sim planned a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "set-sim planned a nested loop")
  }

  test("q177 skyline: front test runs over the per-x histogram, not raw rows") {
    val p = plan(SparkEntry.queries("q177_skyline")(spark, sf))
    assert(p.contains("partial_max") || p.contains("partial"),
      "per-x max(y) not map-side partial")
    assert(p.contains("LeftSemi"), "front membership must be a semi join")
  }

  test("q179 phrase search: postings filtered to phrase terms before the joins") {
    val df = SparkEntry.queries("q179_phrase_search")(spark, sf)
    val p = plan(df)
    assert(p.contains("LeftSemi"), "offset intersection must be a semi join")
    assert(!p.contains("CartesianProduct"), "phrase search planned a cartesian")
  }

  test("whole-stage codegen covers the scalar-function pipeline") {
    val df = SparkEntry.queries("q11_scalar_funcs")(spark, sf)
    val cg = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen subtree"), s"no codegen stage in:\n${cg.take(800)}")
  }
}
