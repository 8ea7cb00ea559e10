package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinSyntax

/** Iterative link-graph analytics. PageRank (Page, Brin, Motwani,
  * Winograd 1999) is the standard link-based quality weight for web
  * corpus curation — CommonCrawl-style pipelines rank hosts/pages by
  * centrality and use it to weight or filter training data — and the
  * one graph op the relational surface (2-hop q46, connected
  * components in [[Dedup]]) doesn't cover: a fixed-point iteration
  * over the full edge set.
  *
  * Scale shape (100 TB): the edge list is the big table and never
  * leaves executor space. Each iteration is one hash join of edges
  * (partitioned by src) against the node-sized rank frame, one
  * partial-aggregated sum on dst (map-side combine absorbs hub skew —
  * a billion in-links to one page partial-sum locally before the
  * exchange), and one node-sized left join. Out-degrees are computed
  * once and ride WITH the edges, so iterations re-shuffle only rank
  * rows, never re-derive degrees.
  *
  * Determinism (DuckDB-oracle-exact, not rows-only): ranks are integer
  * NANO-units (every node starts at 1e9). A node's per-edge
  * contribution is `rank_nano div outdeg` (integer division — both
  * engines truncate identically on non-negative operands) and the
  * damped update is `teleport + (dampingPct · Σ) div 100` — all-BIGINT
  * arithmetic end to end, so float summation order can never move a
  * rank and the unrolled-CTE SQL twin is hash-exact. The q88/q93
  * micro-rounding discipline taken to its limit: there is no float to
  * round. Mass is NOT conserved (truncation drops < 1 nano per edge;
  * dangling nodes leak their damped mass, the standard simplification)
  * — rankings, not masses, are the product.
  *
  * Overflow bound: a node's inbound sum is ≤ total mass = |V|·1e9, and
  * the update multiplies by dampingPct ≤ 100 — safe in BIGINT while
  * |V|·1e11 < 9.2e18, i.e. up to ~9e7 nodes worst-case (one node
  * absorbing ALL mass), and in practice to billions of nodes since no
  * web node absorbs >1% of total mass. For larger graphs lower the
  * per-node scale; the ranking is scale-invariant.
  */
object Graph {

  /** All-integer PageRank over a directed edge list → (node: long,
    * rank_nano: long), one row per distinct endpoint. Duplicate edges
    * are collapsed first (multi-edges would double-weight a link) —
    * unless the caller asserts `assumeSimple`, which skips that
    * edge-count-scale exchange when the input is duplicate-free BY
    * CONSTRUCTION (e.g. a disjoint-orientation union of a distinct
    * pair frame); passing a multigraph with the flag set silently
    * double-weights its repeated links, so assert only what upstream
    * plan shape proves. Nodes with no in-links converge to the bare
    * teleport mass; nodes with no out-links (dangling) receive but
    * never emit.
    *
    * Lineage is truncated with a [[Pin.pin]] every 8 iterations so deep
    * runs don't accumulate an unbounded plan; typical analytic use
    * (≤ 8 iterations) stays a pure declarative plan.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85,
      assumeSimple: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"pageRank iterations must be in [1, 100], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"pageRank dampingPct must be in [0, 100], got $dampingPct")
    // edge/node frames materialized ONCE (the q213 HITS lesson): every
    // round references both, and without pinning them each round
    // re-derives the whole upstream join+distinct — measured 8.0 s vs
    // 3.4 s at sf0.1 (87 exchanges, zero reuse, in the unpinned plan)
    val proj = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // under spark.graft.pin.alignedLayout the edge frame pins
    // PARTITIONED ON THE JOIN KEY, so the degree aggregation, the
    // degree join, and every iteration's rank join satisfy their
    // src-clustering requirement from the pinned layout — zero edge
    // exchanges after this one (work-channel-verified: −466 MB at sf1;
    // see Pin.pinAligned for why that's a cluster knob, not the
    // local-mode default)
    val e0 = Pin.pinAligned(
      if (assumeSimple) proj else proj.distinct(), col("src"))
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("__outdeg"))
    val e = e0.join(deg, Seq("src")).pinned
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct().pinned
    val teleportNano = (100L - dampingPct) * 10000000L
    var ranks = nodes.withColumn("rank_nano", lit(1000000000L))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank_nano div __outdeg").as("__contrib"))
        .groupBy(col("node"))
        .agg(sum(col("__contrib")).as("__c"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"), expr(
          s"$teleportNano + ($dampingPct * coalesce(__c, CAST(0 AS BIGINT)))" +
            " div 100").as("rank_nano"))
      if (i % 8 == 0 && i < iterations) ranks = ranks.pinned
    }
    ranks
  }

  /** PERSONALIZED PageRank (teleport mass concentrated on a probe set
    * instead of spread uniformly — the recommendation/expansion form:
    * "rank everything by relevance to THESE nodes"). Same all-integer
    * fixed point as [[pageRank]] (nano-unit ranks, BIGINT arithmetic
    * end to end), so the q208 DuckDB twin unrolls identically; probe
    * nodes get the teleport term, everyone else only inbound mass.
    * Scale shape identical to [[pageRank]], including the
    * `assumeSimple` dedup-skip contract; the probe set rides a
    * broadcast-sized join. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      probes: DataFrame, probeCol: String, iterations: Int,
      dampingPct: Int = 85, assumeSimple: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"personalizedPageRank iterations must be in [1, 100], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"personalizedPageRank dampingPct must be in [0, 100], got $dampingPct")
    // same frame pinning as [[pageRank]], src-aligned under the same
    // deployment knob
    val proj = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val e0 = Pin.pinAligned(
      if (assumeSimple) proj else proj.distinct(), col("src"))
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("__outdeg"))
    val e = e0.join(deg, Seq("src")).pinned
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct()
      .join(probes.select(col(probeCol).cast("long").as("node"))
          .distinct().withColumn("__probe", lit(1L)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__probe"), lit(0L)).as("is_probe"))
      .pinned
    val teleportNano = (100L - dampingPct) * 10000000L
    var ranks = nodes.withColumn("rank_nano",
      col("is_probe") * lit(1000000000L))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("rank_nano")), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank_nano div __outdeg").as("__contrib"))
        .groupBy(col("node"))
        .agg(sum(col("__contrib")).as("__c"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"), col("is_probe"), expr(
          s"is_probe * $teleportNano + ($dampingPct *" +
            " coalesce(__c, CAST(0 AS BIGINT))) div 100").as("rank_nano"))
      if (i % 8 == 0 && i < iterations) ranks = ranks.pinned
    }
    ranks.select(col("node"), col("rank_nano"))
  }

  /** Bounded k-core peeling: `rounds` synchronous iterations of
    * "remove every node with degree < k" over an undirected simple
    * graph — each round recomputes degrees over the SURVIVING edge set
    * and drops the under-k nodes. Full k-core decomposition iterates
    * to fixpoint; the bounded form is what an oracle can unroll
    * (q216), and in practice cores stabilize in a few rounds. Returns
    * (node, degree) for survivors after the last round, with the
    * post-round degree.
    *
    * Scale shape per round: one degree partial-agg + two semi-joins to
    * restrict the edge set; frames checkpoint per round (eager loop —
    * the edge input materializes once, the q213 lesson). */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 16,
      s"kCorePeel needs k >= 1 and rounds in [1, 16], got k=$k rounds=$rounds")
    var und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .pinned
    var deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    for (_ <- 1 to rounds) {
      val keep = deg.filter(col("degree") >= k).select(col("node"))
      und = und
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .pinned
      deg = und.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    }
    deg
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) with INTEGER
    * max-normalization: each round a(v) = Σ h(u) over in-edges,
    * h(u) = Σ a(v) over out-edges, then both vectors rescale to
    * max = 10⁶ via `x·10⁶ div max` — the all-integer stand-in for the
    * usual L2 normalization (same ranking, deterministic, and the
    * q213 DuckDB twin unrolls it exactly). Returns (node, hub_micro,
    * auth_micro).
    *
    * Scale shape per round: two edge⋈score hash joins + two
    * partial-aggregated sums + two one-row max frames riding cross
    * joins. The rounds are separate eager jobs (each score frame pins),
    * so cross-round ExchangeReuse can never fire — instead the edge
    * list is pinned TWICE, once partitioned on src (auth step) and once
    * on dst (hub step), and each round's joins satisfy their clustering
    * requirement straight from the pinned layout: per round only
    * node-sized score frames shuffle. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, assumeSimple: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"hits iterations must be in [1, 20], got $iterations")
    // the rounds below run as EAGER checkpoint actions, so the edge
    // derivation (often a join+distinct upstream) must materialize once
    // or every action re-runs it (the q208 probes lesson). assumeSimple
    // skips the dedup exchange under the [[pageRank]] contract: only
    // when the caller's plan PROVES the (src, dst) pairs unique.
    //
    // HITS joins the edge list on BOTH endpoints every round (auth step
    // keys on src, hub step on dst), so a single pinned frame serves at
    // most one side and the other re-exchanges the full edge list every
    // round — the work channel measured exactly that: 2 edge exchanges
    // × rounds, the heaviest shuffle source on the whole graph surface
    // (q213: −482 MB at sf1 under the aligned knob). Under
    // spark.graft.pin.alignedLayout the edge list pins TWICE, once per
    // join key, converting per-round exchanges to 2 one-time ones;
    // rounds then shuffle only node-sized score frames. Locally (knob
    // off) the single pin stands — see Pin.pinAligned for the measured
    // trade.
    val proj = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val eSrc = Pin.pinAligned(
      if (assumeSimple) proj else proj.distinct(), col("src"))
    val eDst =
      if (Pin.aligned(edges.sparkSession)) Pin.pinAligned(eSrc, col("dst"))
      else eSrc
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node")))
      .distinct()
      .pinned
    var scores = nodes
      .withColumn("hub", lit(1000000L)).withColumn("auth", lit(1000000L))
    for (_ <- 1 to iterations) {
      // each round's auth feeds BOTH the hub step and the carried
      // output, and scores feeds the next round's two consumers — left
      // lazy, subplan references DOUBLE per round (2^iterations work).
      // ONE localCheckpoint per round, on `scores` (round 16 — the
      // profiler showed q213 at 82 near-empty jobs, ~half of them the
      // per-round auth pins and their AQE sub-jobs): within one round's
      // plan the duplicated auth subtree's exchanges dedup through
      // ReuseExchange, so only the node-sized join/project layer above
      // them runs twice, which is cheaper than an extra eager pin job
      // per round. The cross-round blowup the old comment measured
      // (8.2 s unpinned) came from UNPINNED ROUNDS STACKING — the
      // per-round scores pin below still truncates that.
      val auth0 = eSrc
        .join(scores.select(col("node").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("a0"))
      val authMax = auth0.agg(max(col("a0")).as("am"))
      val auth = nodes.join(auth0, Seq("node"), "left").crossJoin(authMax)
        .select(col("node"),
          expr("(coalesce(a0, CAST(0 AS BIGINT)) * 1000000) div am")
            .as("auth"))
      val hub0 = eDst
        .join(auth.select(col("node").as("dst"), col("auth").as("a1")),
          Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a1")).as("h0"))
      val hubMax = hub0.agg(max(col("h0")).as("hm"))
      scores = nodes.join(hub0, Seq("node"), "left").crossJoin(hubMax)
        .join(auth, Seq("node"))
        .select(col("node"),
          expr("(coalesce(h0, CAST(0 AS BIGINT)) * 1000000) div hm")
            .as("hub"),
          col("auth"))
        .pinned
    }
    scores.select(col("node"), col("hub").as("hub_micro"),
      col("auth").as("auth_micro"))
  }

  /** Degree ASSORTATIVITY of an undirected simple graph: the Pearson
    * correlation of endpoint degrees over the edge list (Newman 2002)
    * — positive in social graphs (hubs befriend hubs), negative in
    * web/biology. Exact integer moments over BOTH edge orientations
    * (the standard symmetrized estimator), one sqrt + milli rounding
    * at the end, so q209 is oracle-exact. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .pinned // two consumers: the degree agg and the moment join
    val deg = und.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    // The symmetrized estimator's moments over BOTH orientations are
    // pure algebra over ONE orientation (round 15 — the old union
    // re-ran the whole und⋈deg⋈deg tree a second time just to swap
    // columns): n = 2·cnt, sx = sy = Σ(du+dv), sxy = 2·Σ(du·dv),
    // sxx = syy = Σ(du²+dv²) — exact integer identities, so the final
    // float expression below sees bit-identical inputs.
    val dirDeg = und
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("du"), col("dv"))
    val m = dirDeg.agg(count(lit(1)).as("cnt"),
        sum(col("du") + col("dv")).as("s1"),
        sum(col("du") * col("dv")).as("s2"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("s3"))
      .select((col("cnt") * 2).as("n"),
        col("s1").as("sx"), col("s1").as("sy"),
        (col("s2") * 2).as("sxy"),
        col("s3").as("sxx"), col("s3").as("syy"))
    m.select(col("n"),
      when((col("n") * col("sxx") - col("sx") * col("sx")) === 0L
          || (col("n") * col("syy") - col("sy") * col("sy")) === 0L,
        lit(null).cast("long"))
        .otherwise(floor(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
            * 1000 + lit(0.5)).cast("long"))
        .as("assortativity_milli"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a
    * DETERMINISTIC argmax: each iteration every node adopts the label
    * most frequent among its neighbors, ties broken by the SMALLEST
    * label — the nondeterministic-update folklore version is useless
    * under replay, and determinism is what lets q182's DuckDB twin
    * unroll the same iterations and hash-match the full assignment.
    * Fixed iteration count (communities stabilize in a few rounds;
    * convergence detection would cost a count() action per round).
    *
    * Scale shape per iteration: one edge⋈label hash join (labels are
    * node-sized), one partial-aggregated (node, label) count, and one
    * argmax partial agg — max(struct(count, −label)) so no window sort
    * ever sees the edge list. Labels localCheckpoint each round (the
    * next round consumes them once, but lineage would otherwise stack
    * joins maxIter deep). */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"labelPropagation iterations must be in [1, 20], got $iterations")
    val dir = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .unionByName(edges
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .filter(col("src") =!= col("dst"))
      .pinned // one consumer per iteration
    var labels = dir.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (i <- 1 to iterations) {
      labels = dir
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      if (i < iterations) labels = labels.pinned
    }
    labels
  }

  /** Newman–Girvan modularity of a GIVEN node partition over an
    * undirected simple graph: Q = Σ_c (e_c/m − (d_c/2m)²) with e_c the
    * intra-community edge count, d_c the community's degree sum, m the
    * edge count — the standard "is this clustering better than chance"
    * gauge for ANY community assignment (connected components, semantic
    * clusters, a metadata partition). Returns one row per community:
    * (community, e_c, d_c, intra_micro, degsq_micro) — term = intra −
    * degsq; Σ over communities is Q in micro-units. Each fraction is
    * micro-rounded separately from POSITIVE integers (e_c·10⁶ div m and
    * d_c²·10⁶ div 4m², DECIMAL-widened), so engines can never disagree
    * on a negative-division rounding convention.
    *
    * Scale shape: canonicalize + dedup edges (one exchange), degree =
    * one explode + partial agg, then two community-keyed joins whose
    * output is community-sized; m rides a one-row cross join. Nodes
    * absent from `comm` fail loudly via the inner join's row-count
    * contract (callers wanting silent drops pass a completed frame). */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      comm: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .pinned // three consumers: m, degrees, intra-edges
    val c = comm.select(col(nodeCol).cast("long").as("node"),
      col(commCol).as("community"))
    val m = und.agg(count(lit(1)).as("m"))
    val dC = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .join(c, Seq("node"))
      .groupBy(col("community")).agg(sum(col("d")).as("d_c"))
    val eC = und
      .join(c.select(col("node").as("u"), col("community").as("cu")), Seq("u"))
      .join(c.select(col("node").as("v"), col("community").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_c"))
    dC.join(eC, Seq("community"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(m)
      .select(col("community"), col("e_c"), col("d_c"),
        expr("CAST((CAST(e_c AS DECIMAL(38,0)) * 1000000) DIV m AS BIGINT)")
          .as("intra_micro"),
        expr("CAST((CAST(d_c AS DECIMAL(38,0)) * d_c * 1000000)" +
          " DIV (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)")
          .as("degsq_micro"))
  }

  /** Bounded-depth multi-source BFS: exact minimum hop distance from
    * each probe to every node reachable within `maxDepth` hops of a
    * DIRECTED edge list (symmetrize first for undirected semantics).
    * Returns (probe, node, dist) with dist = the min hop count, probes
    * included at dist 0. The relational face of graph traversal —
    * DuckDB's recursive CTE is the oracle twin (q171), so the frontier
    * expansion is provably min-dist-exact, not rows-only.
    *
    * Scale shape: classic frontier BFS — each round joins ONLY the new
    * frontier (nodes first reached last round) against the edge list,
    * anti-joins the visited set, and unions. Work per round is
    * |frontier|·avg-degree, never |visited|·degree; the visited set is
    * localCheckpointed each round (two consumers: union + anti-join,
    * and it caps lineage depth at the round count). All-integer rows;
    * no floats, no nondeterminism.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      probes: DataFrame, probeCol: String, maxDepth: Int,
      assumeSimple: Boolean = false): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 16,
      s"bfsDistances maxDepth must be in [1, 16], got $maxDepth")
    // the edge list is consumed once per round — materialize its
    // derivation (often a join+distinct upstream) exactly once; under
    // spark.graft.pin.alignedLayout it pins PARTITIONED on src so each
    // round's frontier join satisfies its clustering requirement from
    // the pinned layout instead of re-exchanging the edge list per
    // depth (work-channel-caught; cluster knob, see Pin.pinAligned).
    // assumeSimple skips the dedup exchange ([[pageRank]] contract);
    // for BFS duplicate edges cost work, never correctness (min-dist
    // is idempotent), so the flag here is purely a plan-shape assert
    val proj = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val e = Pin.pinAligned(
      if (assumeSimple) proj else proj.distinct(), col("src"))
    var visited = probes
      .select(col(probeCol).cast("long").as("probe"))
      .distinct()
      .select(col("probe"), col("probe").as("node"), lit(0).as("dist"))
      .pinned
    var frontier = visited
    for (d <- 1 to maxDepth) {
      val next = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("probe"), col("dst").as("node"), lit(d).as("dist"))
        .distinct()
      // only the frontier needs a checkpoint: `visited` is a union of
      // already-checkpointed frames, so re-consuming it recomputes
      // nothing — checkpointing it too would serialize the whole
      // visited set once per round
      frontier = next
        .join(visited, Seq("probe", "node"), "left_anti")
        .pinned
      visited = visited.unionByName(frontier)
    }
    visited
  }

  /** Exact triangle count via degree-ordered orientation (the
    * compact-forward / node-iterator algorithm): canonicalize to
    * undirected simple edges, orient each from its (degree, node)-lower
    * endpoint, build wedges by joining oriented edges on their source
    * with the two tips in orientation order, and close each wedge with
    * a semi-join back onto the oriented edge set. The orientation
    * bounds every node's out-degree by O(√m), so the wedge fan-out is
    * O(m^1.5) worst case instead of Σdeg² — the difference between a
    * star graph exploding and not.
    *
    * Returns one row: n_nodes, n_edges, n_triangles. */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .pinned // three consumers (deg, orientation join, n_edges) — an
              // expensive caller-side edge derivation (q155's basket
              // pair-support self-join) must not re-run per consumer
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    // orient from the (degree, node)-smaller endpoint; carry the tip's
    // rank so wedge tips order without another degree join
    val oriented = withDeg.select(
      when(col("du") < col("dv")
          || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .pinned // three consumers: two wedge sides + the close
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src")
          && (col("e1.dd") < col("e2.dd")
            || (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
    val closed = wedges.join(oriented.select(col("src"), col("dst")),
      Seq("src", "dst"), "left_semi")
    deg.agg(count(lit(1)).as("n_nodes")).crossJoin(
        und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }
}
