package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions._
import graft.ops.{Dedup, Graph}

/** Graph-shaped and composite operators: relational 2-hop traversal
  * (the person↔area edge-table pattern, SURVEY J6), dedup application
  * via connected components, and PDF-text cleanup. */
object GraphQueries {

  /** The symmetrized customer↔supplier trade graph as `(src, dst)`:
    * distinct (customer, supplier) trade pairs in both orientations,
    * supplier ids offset by 2^40 past the customer key space. Because
    * the pairs are distinct and the two orientations live in disjoint
    * id spaces, the edge list is duplicate-free by construction. */
  def tradeGraph(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val orders = t(s, dir, "orders")
    val base = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    base
      .select(col("cust").as("src"), (col("supp") + 1099511627776L).as("dst"))
      .unionByName(base
        .select((col("supp") + 1099511627776L).as("src"), col("cust").as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 2-hop traversal over the customer—part bipartite graph: for probe
    // customers, the distinct partner customers reachable through a
    // co-purchased part. Probe-side filter pushes down before the hop.
    "q46_graph_2hop" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val edges = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      val probeEdges = edges.filter(col("cust") < 50)
        .select(col("cust").as("probe_cust"), col("part"))
      probeEdges.join(edges, Seq("part"))
        .filter(col("cust") =!= col("probe_cust"))
        .groupBy(col("probe_cust"))
        .agg(count_distinct(col("cust")).as("n_partners"),
          count_distinct(col("part")).as("n_shared_parts"))
        .orderBy(col("probe_cust"))
    }),

    // Dedup application end-to-end: LSH pairs -> connected components ->
    // one representative per cluster (rows-only; components are iterative)
    "q47_dedup_apply" -> ((s, dir) => {
      val corpus = DedupQueries.withNearDups(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
        k = 32, bands = 8, shingleLen = 3, threshold = 0.5)
      Dedup.applyDedup(corpus, "doc_id", pairs)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Leakage-safe train/test split: near-dup clusters (LSH pairs ->
    // connected components) assigned wholly to one side by a
    // deterministic component hash (rows-only; components are iterative)
    "q50_leakage_split" -> ((s, dir) => {
      val corpus = DedupQueries.withNearDups(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
        k = 32, bands = 8, shingleLen = 3, threshold = 0.5)
      Dedup.leakageSafeSplit(corpus, "doc_id", pairs, testPct = 10)
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Incremental component maintenance: yesterday's assignment (CC over
    // the original-corpus pairs, singletons materialized) + today's
    // batch (the twin-link pairs) merged WITHOUT the historical pair
    // list — work scales with |assignment| + |new pairs| (rows-only;
    // DedupComponentsSpec pins equivalence with the full recompute)
    "q87_merge_components" -> ((s, dir) => {
      val corpus = DedupQueries.withNearDups(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      // pinned (round 15): the two batch filters below are separate
      // consumers — unpinned they re-ran the whole LSH signature +
      // bucket + verify pipeline twice
      val pairs = graft.ops.Pin.pin(
        Dedup.minHashPairs(corpus, "doc_id", "text",
          k = 32, bands = 8, shingleLen = 3, threshold = 0.5))
      val batch1 = pairs.filter(col("b_id") < 1099511627776L)
      val batch2 = pairs.filter(col("b_id") >= 1099511627776L)
      val cc1 = Dedup.connectedComponents(batch1)
      val existing = corpus.select(col("doc_id").as("id"))
        .join(cc1, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      Dedup.mergeComponents(existing, batch2)
        .orderBy(col("id"))
    }),

    // Dedup observability: cluster-size histogram of the SAME pair set
    // q47 consumes — the "is there a degenerate giant component" check
    // that must run before any dedup output is trusted (rows-only;
    // components are iterative)
    "q84_cluster_histogram" -> ((s, dir) => {
      val corpus = DedupQueries.withNearDups(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
        k = 32, bands = 8, shingleLen = 3, threshold = 0.5)
      Dedup.clusterSizeHistogram(corpus, "doc_id", pairs)
        .orderBy(col("cluster_size"))
    }),

    // Link-graph quality weighting: 5-iteration all-integer PageRank
    // over the symmetrized customer↔supplier trade graph (supplier ids
    // offset past the customer key space). Oracle-exact — the
    // all-BIGINT update rule unrolls to a 5-CTE SQL twin.
    "q99_pagerank" -> ((s, dir) => {
      val edges = tradeGraph(s, dir)
      // assumeSimple: the trade graph is duplicate-free by construction
      // (see tradeGraph) — the op-internal dedup exchange is pure waste
      Graph.pageRank(edges, "src", "dst", iterations = 5,
          assumeSimple = true)
        .orderBy(col("node"))
    }),

    // Personalized PageRank from the probe customers over the q99
    // trade graph — "rank suppliers/customers by relevance to THESE
    // accounts"; all-integer fixed point, 5 unrolled oracle rounds
    "q208_ppr" -> ((s, dir) => {
      val edges = tradeGraph(s, dir)
      // probe ids as a literal range — deriving them from the edge
      // frame would re-run the whole base join inside every rank
      // round's recursive plan (measured 3× slower); extras outside
      // the graph are ignored by the op's left join onto nodes
      val probes = s.range(0, 20).select(col("id").as("probe"))
      // NOTE no rank>0 filter on top: Catalyst pushes such a predicate
      // into one copy of the shared recursive subplans, their
      // canonical forms stop matching, ReusedExchange dies, and every
      // round re-derives the base join — measured 3× slower. Rank 0
      // rows simply mean "not reached from the probes"
      Graph.personalizedPageRank(edges, "src", "dst", probes, "probe",
        iterations = 5,
        // duplicate-free by construction (see tradeGraph)
        assumeSimple = true)
        .orderBy(col("node"))
    }),

    // Bounded k-core peeling (3 rounds toward the 3-core) over the
    // thresholded co-purchase graph — the dense-backbone extraction
    // the full decomposition iterates to fixpoint; bounded so the
    // oracle can unroll the identical rounds
    "q216_kcore" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val (d, pairs) = graft.ops.Analytics.pairSupport(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      val nb = d.select(col("b")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val edges = pairs.crossJoin(nb)
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .select(col("item_a"), col("item_b"))
      Graph.kCorePeel(edges, "item_a", "item_b", k = 3, rounds = 3)
        .orderBy(col("node"))
    }),

    // HITS hubs-and-authorities over the DIRECTED customer→supplier
    // trade graph — buyers are hubs, suppliers are authorities, the
    // semantic fit Kleinberg's algorithm was built for; integer
    // max-normalization keeps every round oracle-exact
    "q213_hits" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val edges = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1099511627776L).as("dst"))
        .distinct()
      // assumeSimple: `edges` carries its own .distinct() on the exact
      // (src, dst) longs the op would re-dedup
      Graph.hits(edges, "src", "dst", iterations = 3, assumeSimple = true)
        .orderBy(col("node"))
    }),

    // Degree assortativity of the thresholded co-purchase graph
    // (Newman 2002): do high-degree product families co-occur with
    // each other — one exact-moment row, milli-rounded
    "q209_assortativity" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val (d, pairs) = graft.ops.Analytics.pairSupport(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      val nb = d.select(col("b")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val edges = pairs.crossJoin(nb)
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .select(col("item_a"), col("item_b"))
      Graph.degreeAssortativity(edges, "item_a", "item_b")
        .orderBy(col("n"))
    }),

    // Apriori level-3: frequent item triples over the co-purchase
    // baskets — items below support are dropped BEFORE the in-row
    // triple comprehension (the Apriori property doing its job), so
    // the explode is bounded by frequent-item basket sizes
    "q203_frequent_triples" -> ((s, dir) => {
      val d = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("b"), (col("l_partkey") % 1000).as("i"))
        .distinct()
      val nb = d.select(col("b")).distinct().agg(count(lit(1)).as("n_baskets"))
      // support 2 — triples repeat far more rarely than pairs, so the
      // q154 pair threshold of 3 would return an empty level-3 set at
      // small SFs; the total-ordered LIMIT bounds the output instead
      val thr = greatest(lit(2L), expr("n_baskets DIV 25000"))
      val freqItems = d.groupBy(col("i")).agg(count(lit(1)).as("ci"))
        .crossJoin(nb).filter(col("ci") >= thr).select(col("i"))
      // the triple rows cross the count exchange PACKED into one long
      // (a·10⁶ + b·10³ + c — items are l_partkey % 1000, so each fits
      // in 3 decimal digits; round 16, guide §2.3 narrower types): one
      // 8-byte key instead of three, unpacked after the aggregation.
      // Exact arithmetic, identical output columns.
      val triples = d.join(freqItems, Seq("i"), "left_semi")
        .groupBy(col("b"))
        .agg(sort_array(collect_set(col("i"))).as("items"))
        .select(explode(expr(
          "flatten(transform(items, (x, ix) -> flatten(" +
            "transform(slice(items, ix + 2, size(items)), (y, iy) ->" +
            " transform(slice(items, ix + iy + 3, size(items))," +
            " z -> x * 1000000 + y * 1000 + z)))))"))
          .as("abc"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("c_abc"))
      triples.crossJoin(nb)
        .filter(col("c_abc") >= thr)
        .select(expr("abc div 1000000").as("item_a"),
          expr("(abc div 1000) % 1000").as("item_b"),
          (col("abc") % 1000).as("item_c"), col("c_abc"))
        .orderBy(col("c_abc").desc, col("item_a"), col("item_b"), col("item_c"))
        .limit(100)
    }),

    // Connected components ORACLE-CHECKED: the pointer-jumping CC the
    // dedup stack runs everywhere (q47/q50/q75...) was rows-only until
    // now — on the thresholded co-purchase graph the DuckDB recursive
    // CTE computes min-reachable-label to fixpoint and the hash compare
    // proves component = min id EXACTLY, closing the loop on the one
    // iterative kernel the oracle couldn't previously reach
    "q186_cc_exact" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val (d, pairs) = graft.ops.Analytics.pairSupport(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      val nb = d.select(col("b")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val edges = pairs.crossJoin(nb)
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .select(col("item_a").as("a_id"), col("item_b").as("b_id"))
      graft.ops.Dedup.connectedComponents(edges)
        .orderBy(col("id"))
    }),

    // Deterministic synchronous label propagation (3 iterations,
    // most-frequent-neighbor label, min-label ties) over the q155
    // thresholded co-purchase graph — oracle-exact because the argmax
    // is deterministic and the DuckDB twin unrolls the same rounds
    "q182_label_prop" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val (d, pairs) = graft.ops.Analytics.pairSupport(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      val nb = d.select(col("b")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val edges = pairs.crossJoin(nb)
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .select(col("item_a"), col("item_b"))
      Graph.labelPropagation(edges, "item_a", "item_b", iterations = 3)
        .orderBy(col("node"))
    }),

    // Newman–Girvan modularity of the fam-div-100 partition over the
    // q155 thresholded co-purchase graph — the "is this clustering
    // better than chance" gauge for any community assignment (a
    // deployment feeds CC or semantic-cluster output; the graded
    // partition is a deterministic metadata grouping so the DuckDB
    // twin can reproduce every term)
    "q180_modularity" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val (d, pairs) = graft.ops.Analytics.pairSupport(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      val nb = d.select(col("b")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      // pinned (round 15): edges has FOUR downstream evaluations — the
      // modularity pin, and nodes/comm whose union+double community
      // join re-ran the whole pairSupport self-join per branch (stage
      // profile: four identical 4.6→10.7 MB stages, ~1.3 s each)
      val edges = graft.ops.Pin.pin(pairs.crossJoin(nb)
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .select(col("item_a"), col("item_b")))
      val nodes = edges.select(col("item_a").as("node"))
        .unionByName(edges.select(col("item_b").as("node"))).distinct()
      val comm = nodes.withColumn("community", expr("node DIV 100"))
      Graph.modularity(edges, "item_a", "item_b", comm, "node", "community")
        .orderBy(col("community"))
    }),

    // Bounded-depth multi-source BFS over the symmetrized customer↔
    // supplier trade graph (q99's edge construction): exact min-hop
    // distance layers from the probe customers, depth ≤ 3. Oracle-exact
    // against DuckDB's recursive CTE — the frontier expansion is proven
    // min-dist-correct, not rows-only
    "q171_bfs_reach" -> ((s, dir) => {
      val edges = tradeGraph(s, dir)
      val probes = edges.filter(col("src") < 20)
        .select(col("src").as("probe")).distinct()
      // duplicate-free by construction (see tradeGraph)
      Graph.bfsDistances(edges, "src", "dst", probes, "probe", maxDepth = 3,
          assumeSimple = true)
        .groupBy(col("probe"), col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("probe"), col("dist"))
    }),

    // F18 — PDF-extracted-text cleanup over text with injected artifacts
    "q48_pdf_cleanup" -> ((s, dir) => {
      val dirty = concat(lit("p1\u000c"), translate(col("text"), "ae", "áé"), lit("\nend"))
      t(s, dir, "documents").select(
        col("doc_id"), pdfTextCleanup(dirty).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // Market-basket association rules over order→product-family baskets
    // (ops/Analytics.associationRules): support, directional
    // confidence, lift — integer-micro exact; support threshold scales
    // with the basket count so the rule set stays rule-sized at any SF
    "q154_copurchase" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val rules = graft.ops.Analytics.associationRules(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      rules
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .orderBy(col("c_ab").desc, col("item_a"), col("item_b"))
        .limit(100)
    }),

    // Exact triangle count over the support-thresholded co-purchase
    // graph (ops/Graph.triangleCount, degree-ordered orientation —
    // out-degree bounded O(√m), so the wedge join cannot blow up on a
    // hub); same scale-relative threshold as q154
    "q155_triangles" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 1000).as("fam"))
      val (d, pairs) = graft.ops.Analytics.pairSupport(
        baskets, col("l_orderkey"), col("fam"), minSupport = 2)
      val nb = d.select(col("b")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val edges = pairs.crossJoin(nb)
        .filter(col("c_ab") >= greatest(lit(3L), expr("n_baskets DIV 25000")))
        .select(col("item_a"), col("item_b"))
      graft.ops.Graph.triangleCount(edges, "item_a", "item_b")
    })
  )

  val oracle: Map[String, String] = Map(
    "q99_pagerank" -> {
      // Unrolled fixed-point: r0 → r5, each step the same all-BIGINT
      // update the Spark loop runs (`//` = DuckDB integer division ≡
      // Spark `div` on non-negative BIGINTs; sums cast back to BIGINT
      // because DuckDB sum(BIGINT) widens to HUGEINT).
      val steps = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT n.node,
           |    CAST(150000000 AS BIGINT)
           |      + (85 * coalesce(s.c, 0)) // 100 AS rank_nano
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(r.rank_nano // d.outdeg) AS BIGINT) AS c
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    JOIN deg d ON e.src = d.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (
         |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT CAST(cust AS BIGINT) AS src,
         |    CAST(supp + 1099511627776 AS BIGINT) AS dst FROM base
         |  UNION ALL
         |  SELECT CAST(supp + 1099511627776 AS BIGINT) AS src,
         |    CAST(cust AS BIGINT) AS dst FROM base),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |r0 AS (
         |  SELECT node, CAST(1000000000 AS BIGINT) AS rank_nano FROM nodes),
         |$steps
         |SELECT node, rank_nano FROM r5 ORDER BY node""".stripMargin
    },
    // q99's unrolled-CTE discipline with a probe-seeded teleport: only
    // probe rows carry the (100-d)% term, everyone else pure inbound
    "q208_ppr" -> {
      val steps = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT n.node, n.is_probe,
           |    n.is_probe * CAST(150000000 AS BIGINT)
           |      + (85 * coalesce(s.c, 0)) // 100 AS rank_nano
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(r.rank_nano // d.outdeg) AS BIGINT) AS c
           |    FROM edges e
           |    JOIN r${i - 1} r ON e.src = r.node
           |    JOIN deg d ON e.src = d.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (
         |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT CAST(cust AS BIGINT) AS src,
         |    CAST(supp + 1099511627776 AS BIGINT) AS dst FROM base
         |  UNION ALL
         |  SELECT CAST(supp + 1099511627776 AS BIGINT) AS src,
         |    CAST(cust AS BIGINT) AS dst FROM base),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |nodes AS (SELECT node,
         |    CAST(CASE WHEN node < 20 THEN 1 ELSE 0 END AS BIGINT)
         |      AS is_probe
         |  FROM (SELECT src AS node FROM edges
         |        UNION SELECT dst FROM edges)),
         |r0 AS (SELECT node, is_probe,
         |    is_probe * CAST(1000000000 AS BIGINT) AS rank_nano FROM nodes),
         |$steps
         |SELECT node, rank_nano FROM r5 ORDER BY node""".stripMargin
    },

    // the identical three peels unrolled; AS MATERIALIZED throughout —
    // each round references its predecessor three times and DuckDB's
    // default CTE inlining would re-evaluate the whole prefix
    // exponentially (the q213 lesson)
    "q216_kcore" -> {
      val rounds = (1 to 3).map { i =>
        s"""e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
           |  WHERE u IN (SELECT node FROM d${i - 1} WHERE degree >= 3)
           |    AND v IN (SELECT node FROM d${i - 1} WHERE degree >= 3)),
           |d$i AS MATERIALIZED (
           |  SELECT x AS node, CAST(count(*) AS BIGINT) AS degree
           |  FROM (SELECT u AS x FROM e$i UNION ALL SELECT v FROM e$i)
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH dd AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
         |  FROM lineitem),
         |p AS MATERIALIZED (SELECT x.i AS u, y.i AS v, count(*) AS c_ab
         |  FROM dd x JOIN dd y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
         |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets
         |  FROM dd),
         |e0 AS MATERIALIZED (SELECT u, v FROM p CROSS JOIN nb
         |  WHERE c_ab >= greatest(3, n_baskets // 25000)),
         |d0 AS MATERIALIZED (
         |  SELECT x AS node, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
         |  GROUP BY 1),
         |$rounds
         |SELECT node, degree FROM d3 ORDER BY node""".stripMargin
    },

    // three unrolled (auth, hub) rounds. Every per-round CTE is
    // AS MATERIALIZED: DuckDB inlines plain CTEs, and with each round
    // referencing the previous one several times the inlined plan
    // grows EXPONENTIALLY across rounds (the first cut never finished
    // at sf0.1); materialization pins each round to one evaluation
    "q213_hits" -> {
      val rounds = (1 to 3).map { i =>
        s"""ag$i AS MATERIALIZED (
           |  SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS a0
           |  FROM e JOIN s${i - 1} h ON e.src = h.node GROUP BY e.dst),
           |a$i AS MATERIALIZED (
           |  SELECT n.node,
           |    (coalesce(s.a0, 0) * 1000000) //
           |      (SELECT max(a0) FROM ag$i) AS auth
           |  FROM nodes n LEFT JOIN ag$i s ON n.node = s.node),
           |hg$i AS MATERIALIZED (
           |  SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS h0
           |  FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
           |s$i AS MATERIALIZED (
           |  SELECT n.node,
           |    (coalesce(s.h0, 0) * 1000000) //
           |      (SELECT max(h0) FROM hg$i) AS hub,
           |    coalesce(a2.auth, 0) AS auth
           |  FROM nodes n
           |  LEFT JOIN hg$i s ON n.node = s.node
           |  LEFT JOIN a$i a2 ON n.node = a2.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         |    CAST(l_suppkey + 1099511627776 AS BIGINT) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM e UNION SELECT dst FROM e),
         |s0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS hub,
         |    CAST(1000000 AS BIGINT) AS auth FROM nodes),
         |$rounds
         |SELECT node, CAST(hub AS BIGINT) AS hub_micro,
         |  CAST(auth AS BIGINT) AS auth_micro
         |FROM s3 ORDER BY node""".stripMargin
    },

    // both orientations feed the exact moments; one sqrt then milli
    "q209_assortativity" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
        |  FROM lineitem),
        |p AS (SELECT x.i AS u, y.i AS v, count(*) AS c_ab
        |  FROM d x JOIN d y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d),
        |e AS (SELECT u, v FROM p CROSS JOIN nb
        |  WHERE c_ab >= greatest(3, n_baskets // 25000)),
        |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS dg
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY 1),
        |dd AS (SELECT du.dg AS dx, dv.dg AS dy
        |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x
        |  UNION ALL
        |  SELECT dv.dg AS dx, du.dg AS dy
        |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |    CAST(sum(dy * dy) AS BIGINT) AS syy
        |  FROM dd)
        |SELECT n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |    ELSE CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE))
        |      * 1000 + 0.5) AS BIGINT) END AS assortativity_milli
        |FROM m ORDER BY n""".stripMargin,

    // brute-force 3-way basket self-join with the same item-support
    // prefilter; LIMIT's tie zone is closed by the full total order
    "q203_frequent_triples" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
        |  FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d),
        |thr AS (SELECT greatest(2, n_baskets // 25000) AS t FROM nb),
        |fi AS (SELECT i FROM d CROSS JOIN thr
        |  GROUP BY i, t HAVING count(*) >= t),
        |df AS (SELECT b, i FROM d WHERE i IN (SELECT i FROM fi)),
        |tr AS (SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
        |    CAST(count(*) AS BIGINT) AS c_abc
        |  FROM df x JOIN df y ON x.b = y.b AND x.i < y.i
        |       JOIN df z ON y.b = z.b AND y.i < z.i
        |  GROUP BY 1, 2, 3)
        |SELECT item_a, item_b, item_c, c_abc
        |FROM tr CROSS JOIN thr WHERE c_abc >= t
        |ORDER BY c_abc DESC, item_a, item_b, item_c LIMIT 100""".stripMargin,

    // transitive-closure min-label to FIXPOINT: the recursive UNION
    // carries (node, reachable-label) pairs — row count bounded by
    // Σ|component|², fine at oracle scale; min per node = component
    "q186_cc_exact" ->
      """WITH RECURSIVE d AS (SELECT DISTINCT l_orderkey AS b,
        |    l_partkey % 1000 AS i FROM lineitem),
        |p AS (SELECT x.i AS u, y.i AS v, count(*) AS c_ab
        |  FROM d x JOIN d y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d),
        |e AS (SELECT u, v FROM p CROSS JOIN nb
        |  WHERE c_ab >= greatest(3, n_baskets // 25000)),
        |dir AS (SELECT u AS src, v AS dst FROM e
        |  UNION SELECT v AS src, u AS dst FROM e),
        |walk(node, label) AS (
        |  SELECT DISTINCT src, src FROM dir
        |  UNION
        |  SELECT dir.dst, w.label FROM walk w JOIN dir ON w.node = dir.src)
        |SELECT node AS id, CAST(min(label) AS BIGINT) AS component
        |FROM walk GROUP BY 1 ORDER BY id""".stripMargin,

    // the q155 edge CTEs + three unrolled rounds; the argmax is a
    // row_number window ordered (count desc, label) — the same
    // (most-frequent, min-label) rule as the Spark struct-max
    "q182_label_prop" -> {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l.label, count(*) AS c
           |  FROM dir e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
           |l$i AS (SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (PARTITION BY node
           |      ORDER BY c DESC, label) AS rn FROM c$i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
         |  FROM lineitem),
         |p AS (SELECT x.i AS u, y.i AS v, count(*) AS c_ab
         |  FROM d x JOIN d y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
         |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d),
         |e AS (SELECT u, v FROM p CROSS JOIN nb
         |  WHERE c_ab >= greatest(3, n_baskets // 25000)),
         |dir AS (SELECT u AS src, v AS dst FROM e
         |  UNION SELECT v AS src, u AS dst FROM e),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM dir),
         |$rounds
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    },

    // the q155 edge CTEs + the two modularity fractions, each
    // micro-rounded from POSITIVE integers so no engine disagrees on a
    // negative-division convention
    "q180_modularity" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
        |  FROM lineitem),
        |p AS (SELECT x.i AS u, y.i AS v, count(*) AS c_ab
        |  FROM d x JOIN d y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d),
        |e AS (SELECT u, v FROM p CROSS JOIN nb
        |  WHERE c_ab >= greatest(3, n_baskets // 25000)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS dg
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY 1),
        |dc AS (SELECT node // 100 AS community, CAST(sum(dg) AS BIGINT) AS d_c
        |  FROM deg GROUP BY 1),
        |ec AS (SELECT u // 100 AS community, CAST(count(*) AS BIGINT) AS e_c
        |  FROM e WHERE u // 100 = v // 100 GROUP BY 1)
        |SELECT dc.community, coalesce(ec.e_c, 0) AS e_c, dc.d_c,
        |  CAST(coalesce(ec.e_c, 0)::HUGEINT * 1000000 // m.m AS BIGINT)
        |    AS intra_micro,
        |  CAST(dc.d_c::HUGEINT * dc.d_c * 1000000
        |    // (4::HUGEINT * m.m * m.m) AS BIGINT) AS degsq_micro
        |FROM dc LEFT JOIN ec USING (community) CROSS JOIN m
        |ORDER BY community""".stripMargin,

    // Recursive-CTE twin: UNION-dedup per (probe, node, dist) level keeps
    // the working table node-bounded; min(dist) collapses multi-path
    // reaches to the same first-reach layer the frontier BFS computes
    "q171_bfs_reach" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT CAST(cust AS BIGINT) AS src,
        |    CAST(supp + 1099511627776 AS BIGINT) AS dst FROM base
        |  UNION ALL
        |  SELECT CAST(supp + 1099511627776 AS BIGINT) AS src,
        |    CAST(cust AS BIGINT) AS dst FROM base),
        |probes AS (SELECT DISTINCT src AS probe FROM edges WHERE src < 20),
        |walk(probe, node, dist) AS (
        |  SELECT probe, probe, 0 FROM probes
        |  UNION
        |  SELECT w.probe, e.dst, w.dist + 1
        |  FROM walk w JOIN edges e ON w.node = e.src
        |  WHERE w.dist < 3),
        |md AS (SELECT probe, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT probe, dist, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM md GROUP BY 1, 2 ORDER BY probe, dist""".stripMargin,
    "q46_graph_2hop" ->
      """WITH edges AS (
        |  SELECT o_custkey AS cust, l_partkey AS part
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT p.cust AS probe_cust,
        |  count(DISTINCT e.cust) AS n_partners,
        |  count(DISTINCT e.part) AS n_shared_parts
        |FROM (SELECT cust, part FROM edges WHERE cust < 50) p
        |JOIN edges e ON p.part = e.part
        |WHERE e.cust <> p.cust
        |GROUP BY p.cust ORDER BY p.cust""".stripMargin,
    "q48_pdf_cleanup" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    strip_accents(
        |      regexp_replace('p1' || chr(12) || translate(text, 'ae', 'áé') || chr(10) || 'end',
        |        '[\x0c\n\r]+', ' ', 'g')),
        |    '[^\x00-\x7F]', '', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // hugeint mirrors the Spark DECIMAL(38,0); the scale-relative
    // support threshold keeps the rule set (and the LIMIT tie zone)
    // total-ordered at any SF
    "q154_copurchase" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
        |  FROM lineitem),
        |p AS (SELECT x.i AS item_a, y.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS c_ab
        |  FROM d x JOIN d y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |m AS (SELECT i, CAST(count(*) AS BIGINT) AS ci FROM d GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d)
        |SELECT p.item_a, p.item_b, p.c_ab, ma.ci AS c_a, mb.ci AS c_b,
        |  nb.n_baskets,
        |  CAST(CAST(p.c_ab AS HUGEINT) * 1000000 // ma.ci AS BIGINT)
        |    AS conf_ab_micro,
        |  CAST(CAST(p.c_ab AS HUGEINT) * 1000000 // mb.ci AS BIGINT)
        |    AS conf_ba_micro,
        |  CAST(CAST(p.c_ab AS HUGEINT) * nb.n_baskets * 1000000
        |       // (CAST(ma.ci AS HUGEINT) * mb.ci) AS BIGINT) AS lift_micro
        |FROM p JOIN m ma ON p.item_a = ma.i JOIN m mb ON p.item_b = mb.i
        |CROSS JOIN nb
        |WHERE p.c_ab >= greatest(3, nb.n_baskets // 25000)
        |ORDER BY p.c_ab DESC, p.item_a, p.item_b LIMIT 100""".stripMargin,

    // degree-ordered orientation spelled in SQL: each undirected edge
    // leaves its (degree, node)-smaller endpoint, wedge tips order by
    // the carried tip rank, the close is an equi-join on the oriented
    // edge set
    "q155_triangles" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 1000 AS i
        |  FROM lineitem),
        |p AS (SELECT x.i AS u, y.i AS v, count(*) AS c_ab
        |  FROM d x JOIN d y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM d),
        |e AS (SELECT u, v FROM p CROSS JOIN nb
        |  WHERE c_ab >= greatest(3, n_baskets // 25000)),
        |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS dg
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |      THEN e.u ELSE e.v END AS src,
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |      THEN e.v ELSE e.u END AS dst,
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |      THEN dv.dg ELSE du.dg END AS dd
        |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
        |w AS (SELECT e1.dst AS ws, e2.dst AS wd
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src
        |    AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM w JOIN o ON w.ws = o.src AND w.wd = o.dst)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  n_triangles
        |FROM tri""".stripMargin
  )
}
