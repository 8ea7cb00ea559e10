package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.ops.Pin.PinSyntax

/** Approximate / exact nearest-neighbor search over an embedding column.
  *
  * Scale design (100 TB): `bruteForceTopK` broadcasts the (small) probe
  * set and linearly scans the corpus — no corpus shuffle; the only wide
  * exchange is the per-probe top-k window over the scored candidates.
  * `ivfTopK` is the scale path: corpus rows are pre-assigned to the
  * nearest of C centroids (broadcast), and a probe only scores its own
  * cluster — a C-fold scan reduction, trading recall exactly like a
  * classical IVF-flat index. */
object Similarity {

  /** Exact top-k cosine neighbors for each probe (probe set must be small
    * enough to broadcast). Deterministic: ties broken by neighbor id on
    * the score rounded to 6 decimals.
    *
    * Ranking uses the [[graft.functions.TopKByScore]] bounded-heap
    * aggregate, not a row_number window: partial aggregation keeps top-k
    * per partition map-side, so only O(probes × k) rows cross the
    * shuffle instead of the full O(corpus × probes) scored set. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // deliberately NOT widened (round 15): with a handful of broadcast
    // probes the per-row scoring is light, and the measured widen tax
    // (one extra exchange+stage ≈ 0.2 s locally) exceeded the win on
    // every ≤20-probe caller; the probes≈corpus callers widen the
    // corpus argument at the call site (q73) or use exactSelfTopK
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(p))
      .withColumn("score", round(cosineSimilarity(col("pv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  /** Nearest REFERENCE vector for every input vector — the inverted
    * role of [[bruteForceTopK]]: the BIG side scans, only the small
    * reference set broadcasts, and the per-vector argmax is a PARTIAL
    * aggregate (min over struct(−score, ref_id) — same (score DESC,
    * id) tie order as [[rankTopK]]), so the exchange carries one row
    * per input vector, never the scored cross product. This is the
    * semantic-decontamination plan: corpus × benchmark-eval-set, flag
    * what sits too close. Scale path beyond a broadcastable reference
    * set: [[ivfTopK]] with the references as the corpus. */
  def nearestOver(vecs: DataFrame, refs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val v = vecs.select(col(idCol).as("vid"), col(vecCol).as("vv"))
    val r = refs.select(col(idCol).as("rid"), col(vecCol).as("rv"))
    v.join(broadcast(r))
      .withColumn("score", round(cosineSimilarity(col("vv"), col("rv")), 6))
      .groupBy(col("vid"))
      .agg(min(struct((-col("score")).as("ns"), col("rid").as("rid"))).as("m"))
      .select(col("vid"), col("m.rid").as("nearest_id"),
        (-col("m.ns")).as("score"))
  }

  /** Exact top-k EUCLIDEAN neighbors per probe — same plan shape as
    * [[bruteForceTopK]] (broadcast probes, linear corpus scan, bounded
    * heap), ranking ascending L2. This is the ground truth an L2 index
    * ([[pqTopK]], [[ivfPqTopK]]) should be recall-scored against:
    * scoring an L2 index against cosine truth conflates metric
    * disagreement with index error. */
  def bruteForceTopKL2(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    // widen: same single-split hazard as bruteForceTopK
    val c = Fan.widen(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")))
    val scored = c.join(broadcast(p))
      .withColumn("dist2", round(l2DistanceSquared(col("pv"), col("cv")), 6))
      .withColumn("score", -col("dist2"))
    rankTopK(scored, k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        (-col("score")).as("dist2"))
  }

  /** groupBy(probe_id) + bounded-heap top-k → exploded (rank, id, score). */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("probe_id"))
      .agg(topKByScore(col("score"), col("neighbor_id"), k).as("topk"))
      .select(col("probe_id"), posexplode(col("topk")).as(Seq("r0", "nb")))
      .select(col("probe_id"), (col("r0") + 1).cast("int").as("rank"),
        col("nb.id").as("neighbor_id"), col("nb.score").as("score"))

  /** Assign each vector the id of its nearest centroid (L2). Centroids
    * must be a small broadcastable set with columns (centroid_id, cv).
    *
    * Argmin is `min(struct(dist2, centroid_id))` under a groupBy — a
    * PARTIAL (map-side) aggregate that collapses each vector's C scored
    * rows before the exchange, so the shuffle carries one row per vector.
    * (The round-1 row_number window shuffled corpus × C rows to sort
    * them; tie-break — smaller centroid_id — is identical.) */
  def assignIvfCluster(vecs: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val scored = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(broadcast(centroids))
      .withColumn("dist2", l2DistanceSquared(col("v"), col("cv")))
    scored.groupBy(col("id"))
      .agg(first(col("v")).as("v"),
        min(struct(col("dist2"), col("centroid_id"))).as("best"))
      .select(col("id"), col("v"), col("best.centroid_id").as("cluster"))
  }

  /** Lloyd's k-means over the embedding column, as plain DataFrame
    * rounds: broadcast-assign every vector to its nearest centroid
    * ([[assignIvfCluster]] — map-side argmin), recompute each centroid
    * as the element-wise mean (posexplode → groupBy (cluster, dim) →
    * avg → rebuild, all partial-aggregated). Only (cluster, dim, sum)
    * rows cross the shuffle. Centroids (k × dim doubles) are collected
    * per round — they are the index's dimension table, driver-small by
    * definition — which also truncates the iterative lineage. Init is a
    * deterministic hash-ordered pick; empty clusters drop out. */
  def kMeansCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    val init = vecs
      .select(col(idCol).as("centroid_id"), col(vecCol).cast("array<double>").as("cv"))
      .orderBy(xxhash64(col("centroid_id")), col("centroid_id")).limit(k)
    refineCentroids(vecs, init, idCol, vecCol, iters)
  }

  /** Lloyd rounds from a given initial centroid set (see
    * [[kMeansCentroids]] for the plan shape).
    *
    * The per-round driver collect is bounded by the INITIAL centroid
    * count: a Lloyd round can only merge cells (empty clusters drop
    * out), never mint new ones, so every round's collect carries at
    * most |init| × dim doubles. All library callers seed through
    * [[ivfSeeds]] (≤ [[MaxIvfCells]] rows by construction) or
    * [[kMeansCentroids]]'s explicit `limit(k)` — ~32 MB worst case at
    * 64-dim, at ANY corpus size. */
  def refineCentroids(vecs: DataFrame, init: DataFrame, idCol: String,
      vecCol: String, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val doubled = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    var centroids = init
      .select(col("centroid_id"), col("cv").cast("array<double>").as("cv"))
    for (_ <- 1 to iters) {
      val assigned = assignIvfCluster(doubled, centroids, idCol, "__v")
      val means = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim")).agg(avg(col("x")).as("mx"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("dim"), col("mx")))).as("ds"))
        .select(col("cluster").as("centroid_id"),
          transform(col("ds"), d => d.getField("mx")).as("cv"))
      centroids = spark.createDataFrame(
        means.select("centroid_id", "cv").as[(Long, Seq[Double])].collect().toSeq)
        .toDF("centroid_id", "cv")
    }
    centroids
  }

  // ---------------------------------------------------------------------
  // IVF index geometry (round 12). The cell count C is the knob every
  // IVF kernel's cost hangs on: the assignment pass scores n·C pairs
  // against the BROADCAST centroid table, the candidate pass scores
  // ≈ n·(n/C)·nProbe, and each Lloyd round collects C×dim doubles to
  // the driver. Round 11 derived C from a fixed per-vector stride —
  // C = n/stride GREW LINEARLY with the corpus, making assignment
  // O(n²/stride), the broadcast unbounded, and the driver collect
  // unbounded (VERDICT r11 finding #1). C is therefore the parameter
  // now: callers pass `nCells` directly, or take the default
  // C = ⌈√n⌉ (FAISS's nlist ≈ √n convention), which balances the
  // assignment and candidate terms at O(n^1.5·nProbe) total work; in
  // both modes C is clamped to [[MaxIvfCells]], so the centroid
  // broadcast and the per-round driver collect are ≤ 65536 × dim
  // doubles (~32 MB at 64-dim) at ANY corpus size.
  // ---------------------------------------------------------------------

  /** Hard ceiling on the IVF cell count — bounds the centroid
    * broadcast and [[refineCentroids]]' per-round driver collect by
    * construction, corpus size notwithstanding. */
  val MaxIvfCells = 65536

  /** Default cell count for an n-vector corpus: ⌈√n⌉ clamped to
    * [1, [[MaxIvfCells]]]. */
  def ivfCells(n: Long): Int = {
    val root = math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong
    math.max(1L, math.min(MaxIvfCells.toLong, root)).toInt
  }

  /** The shared centroid-seed pick for every IVF-family kernel
    * ([[ivfTopK]], [[ivfSelfTopK]], [[ivfPqTopK]],
    * [[graft.ops.Dedup.embeddingNearDupsIvf]], [[graft.ops.Dedup.semDedup]]):
    * every (n/C)-th id, `limit`-ed to C rows and then COLLECTED ONCE
    * into a driver-local relation. The limit bounds the collect at
    * ≤ [[MaxIvfCells]] rows by construction, and the LocalRelation it
    * becomes is the strongest bounded shape the broadcast-growth gate
    * recognizes — plus every downstream consumer (the centroid
    * broadcast, each Lloyd round's init) now reads driver-local rows
    * instead of re-running the filter+limit corpus scan per use.
    * Exactly two eager scans at build time: the count that sizes the
    * index (the standard price of an auto-sized nlist) and the seed
    * collect itself; the emptiness check rides the collected size for
    * free (round 12 ran count + isEmpty + one rescan per consumer).
    * `nCells` ≤ 0 means the ⌈√n⌉ default; explicit values are clamped
    * to [[MaxIvfCells]]. Returns the seed frame AND the seed count
    * actually materialized (≤ the requested cell count when the
    * stride over-shoots) — the denominator the [[steeredProbes]]
    * scanned-fraction mode needs. */
  private[graft] def ivfSeedsWithCells(vecs: DataFrame, idCol: String,
      vecCol: String, nCells: Int, what: String): (DataFrame, Int) = {
    // a string id nulls the stride modulo → zero seeds → silently empty
    // index; fail loudly instead (same contract as the LSH kernels)
    Guards.requireIntegralId(vecs, idCol, s"$what centroid seeding")
    val n = vecs.count()
    val cells = if (nCells > 0) math.min(nCells, MaxIvfCells) else ivfCells(n)
    val stride = math.max(1L, n / cells)
    val rows = vecs
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cv"))
      .filter(col("centroid_id") % stride === 0)
      .orderBy(col("centroid_id")).limit(cells)
    // an empty seed set would empty the centroid join and silently
    // vanish every row downstream; fail loudly (reachable only with
    // sparse/offset ids that dodge every stride multiple)
    val collected = rows.collect()
    require(collected.nonEmpty,
      s"$what: derived stride $stride (n=$n, nCells=$cells) selected " +
        "zero centroid seeds — no id is divisible by the stride; remap " +
        "ids toward a dense integral range so at least one seed exists")
    val local = vecs.sparkSession.createDataFrame(
      java.util.Arrays.asList(collected: _*), rows.schema)
    (local, collected.length)
  }

  /** [[ivfSeedsWithCells]] without the cell count — the shape the
    * callers that keep their own probe budget use. */
  private[graft] def ivfSeeds(vecs: DataFrame, idCol: String,
      vecCol: String, nCells: Int, what: String): DataFrame =
    ivfSeedsWithCells(vecs, idCol, vecCol, nCells, what)._1

  /** Recall steering (round 13): the probe budget actually used by an
    * IVF kernel given the index's REAL cell count. With the default
    * C = ⌈√n⌉ geometry a FIXED `nProbe` scans fraction nProbe/C ∝
    * n^(-1/2) of the corpus — so isotropic recall decays as the corpus
    * grows, while clustered-corpus recall holds because true neighbors
    * concentrate into probed cells. Measured over three corpus decades
    * (`tools/recall_steering_lane.sh`, k=4; BASELINE.md round-13
    * recall-vs-n table):
    *
    * {{{
    * n        C     p6 iso   f0.133 iso   p6 clustered
    *    500   23    0.630    0.508        1.000
    *  2,000   45    0.475    0.475        1.000
    * 20,000   142   0.306    0.570        1.000
    * }}}
    *
    * Fixed p6 on isotropic data tracks the nProbe/√n law down; the
    * steered f0.133 column is flat; clustered recall is exact at every
    * shape under the FIXED budget — the IVF bet. `scanFraction` > 0 pins the
    * scanned fraction instead: nProbe = max(floor, ⌈f·C⌉), clamped to
    * C. The honest price: candidate work n·(n/C)·nProbe becomes
    * f·n² — there is NO sub-quadratic constant-recall index on a
    * structureless (isotropic) corpus, so f is the recall/cost dial a
    * deployment sets per corpus (FAISS's nprobe convention). Fixed
    * nProbe (f = 0) keeps the O(n^1.5·nProbe) work model and is the
    * right mode when the corpus is clustered — which real embedding
    * corpora are. */
  def steeredProbes(nProbe: Int, cells: Int, scanFraction: Double): Int = {
    require(scanFraction <= 1.0,
      s"scanFraction must be in (0, 1] or 0 to disable, got $scanFraction")
    if (scanFraction <= 0.0) math.min(math.max(1, nProbe), math.max(1, cells))
    else math.min(math.max(1, cells),
      math.max(nProbe, math.ceil(scanFraction * cells).toInt))
  }

  /** IVF-flat approximate top-k: probes only score corpus vectors in
    * their own cluster — a C-fold scan reduction. Centroids are the
    * bounded [[ivfSeeds]] pick (C = `nCells`, default ⌈√n⌉ — see the
    * geometry note above); `kmeansIters` > 0 refines that pick with
    * Lloyd rounds over the corpus (same partitioning/shuffle shape
    * either way — refinement only moves the cluster boundaries). */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 0,
      kmeansIters: Int = 0): DataFrame = {
    val (centroids0, _) =
      ivfSeedsWithCells(corpus, idCol, vecCol, nCells, "ivfTopK")
    val centroids =
      if (kmeansIters <= 0) centroids0
      else refineCentroids(corpus, centroids0, idCol, vecCol, kmeansIters)
    // widen ONLY the serving-side assignment: refineCentroids above must
    // keep the original partitioning (its unrounded avg() is pinned by
    // the q18/q20/q53 goldens; a different sum order could move a ULP)
    val corpusAssigned = assignIvfCluster(Fan.widen(corpus), centroids,
        idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("v").as("cv2"), col("cluster"))
    val probesAssigned = assignIvfCluster(probes, centroids, idCol, vecCol)
      .select(col("id").as("probe_id"), col("v").as("pv"), col("cluster"))
    val scored = corpusAssigned.join(broadcast(probesAssigned), Seq("cluster"))
      .withColumn("score", round(cosineSimilarity(col("pv"), col("cv2")), 6))
    rankTopK(scored, k)
  }

  /** IVF-blocked SELF-kNN — every vector a probe, NOTHING broadcast but
    * the centroid table (round 11, the executable scale path for the
    * q73/q109 exact all-pairs carve-outs). [[ivfTopK]] broadcasts its
    * probe set, which is exactly wrong when probes = corpus; here both
    * sides stay distributed and meet in a hash-partitioned equi-join on
    * the cell id, so the plan survives a corpus that is 100 TB on both
    * sides of the join.
    *
    * Mechanics: one broadcast-centroid scoring pass per vector feeds a
    * single bounded-heap partial aggregate ([[graft.functions.TopKByScore]],
    * so only nProbe rows per vector shuffle) that yields BOTH roles at
    * once — the vector's top-`nProbe` probe cells, and its top-1 cell
    * as corpus residence (multi-probe on the probe side recovers
    * near-boundary neighbors; single residence keeps every candidate
    * pair generated exactly once, no dedup pass). Cosine cell
    * assignment (scale-invariant) matches [[graft.ops.Dedup.embeddingNearDupsIvf]].
    * Candidates = probe-cells ⋈ corpus-cells on the cell id; exact
    * cosine scores the candidates; per-probe ranking is the same
    * bounded heap as [[rankTopK]] — O(n × k) rows cross the final
    * exchange. Work accounting (BOTH passes, not just the candidate
    * join): assignment scores n·C pairs against the broadcast centroid
    * table, candidates score Σ_cells |cell| × |probes probing it|
    * ≈ n·(n/C)·nProbe — with the default C = ⌈√n⌉ [[ivfSeeds]]
    * geometry the total is O(n^1.5·nProbe), vs the exact kernel's n²,
    * and the centroid broadcast / per-Lloyd-round driver collect stay
    * ≤ [[MaxIvfCells]]×dim at any corpus size. (Round 11 shipped a
    * fixed per-vector stride here — C = n/stride grew linearly, making
    * assignment O(n²/stride) and the broadcast unbounded; the "linear
    * candidate work" claim counted only the second pass.) A dense
    * region making one cell giant is the planted-skew lane's shape —
    * AQE skew-join splitting applies to the cell join; `kmeansIters`
    * > 0 additionally moves boundaries to even the cells out.
    *
    * EXACT when nProbe ≥ the centroid count: every (probe, neighbor)
    * pair is then scored exactly once, so the output equals the
    * brute-force self-kNN bit-for-bit (same rounding, same tie-break) —
    * IvfSelfTopKSpec pins that identity; recall at production nProbe is
    * gauged by q223 against the exact twin (q92's discipline).
    * `scanFraction` > 0 switches the probe budget to the
    * pinned-scanned-fraction mode ([[steeredProbes]] — roughly constant
    * isotropic recall as the corpus grows, at f·n² candidate cost);
    * scanFraction = 1 probes every cell and reproduces the exact twin
    * bit-for-bit through the same identity. Self
    * matches are excluded (a probe's nearest neighbor is itself,
    * useless to every downstream consumer of this kernel). */
  def ivfSelfTopK(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int = 0, nProbe: Int = 2,
      kmeansIters: Int = 0, scanFraction: Double = 0.0): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val (seeds, cells) = ivfSeedsWithCells(base, "id", "v", nCells,
      "ivfSelfTopK")
    // the deployment recall/cost dial (see steeredProbes): f = 0 keeps
    // the caller's fixed probe budget, f > 0 pins the scanned fraction
    val probes = steeredProbes(nProbe, cells, scanFraction)
    val centroids =
      if (kmeansIters <= 0) seeds
      else refineCentroids(base, seeds, "id", "v", kmeansIters)
    // one scoring pass, one partial aggregate, both roles; pinned —
    // the corpus-residence and probe-cell branches both consume it.
    // widened: the n·C centroid-scoring pass otherwise runs at the
    // input's split count (1 task on a single-file corpus); the
    // aggregate is the order-free bounded heap, so the widen is
    // value-neutral (refineCentroids above keeps the unwidened base)
    val assigned = Fan.widen(base).join(broadcast(centroids))
      .withColumn("sim", round(cosineSimilarity(col("v"), col("cv")), 6))
      .groupBy(col("id"))
      .agg(first(col("v")).as("v"),
        topKByScore(col("sim"), col("centroid_id"), probes).as("cells"))
      .pinned
    val corpusSide = assigned.select(col("id").as("neighbor_id"),
      col("v").as("cv2"), element_at(col("cells"), 1).getField("id").as("cell"))
    val probeSide = assigned
      .select(col("id").as("probe_id"), col("v").as("pv"),
        explode(col("cells")).as("c"))
      .select(col("probe_id"), col("pv"), col("c.id").as("cell"))
    val scored = corpusSide.join(probeSide, Seq("cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosineSimilarity(col("pv"), col("cv2")), 6))
    rankTopK(scored, k)
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid — "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011). The MEMORY scale path:
  // IVF cuts how much of the corpus a probe scans; PQ cuts what each
  // corpus vector costs to keep. A D-dim float vector becomes M small
  // codes (64 floats = 256 B → 8 codes = 8 B, 32×), so a 100 TB
  // embedding corpus's index fits in a fraction of the executors'
  // memory, and query scoring touches codes only — the raw vectors
  // never cross an exchange after encoding.
  // ---------------------------------------------------------------------

  /** Ragged input is a silent mis-encode (a short vector slices to a
    * short subvector and still produces a code) — raise instead, riding
    * the pass that touches the vector anyway (zero extra scans). */
  private def assertDim(v: Column, dim: Int): Column =
    when(size(v) === dim, v).otherwise(raise_error(
      concat(lit(s"PQ expects $dim-dim vectors, got "), size(v).cast("string"))))

  /** Train per-subspace codebooks: Lloyd k-means in each of the M
    * subspaces, all subspaces in the SAME distributed pass (subvectors
    * tagged by subspace index; centroids keyed (sub, cid)). Training
    * uses a bounded deterministic sample (`trainCap`, hash-ordered
    * take — per-partition partial top-N, no full sort; the standard
    * codebook practice: FAISS trains on a sample too). Centroids are
    * collected per round — M×ksub×subDim doubles, the index's
    * dimension table — which also truncates the iterative lineage.
    * Returns (sub, cid, cv); empty clusters drop out (codes are
    * POSITIONS in the packed per-sub array, so gaps are harmless).
    *
    * Deliberately a separate kernel from [[refineCentroids]] despite
    * the shared Lloyd shape: this one keys every stage by (sub, cid),
    * trains on a bounded sample, and ROUNDS its means (codes are a
    * discretization — see the in-code note), none of which the IVF
    * path wants; parameterizing one kernel for both would couple the
    * q18/q20/q53 pinned goldens to every PQ change. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int,
      trainCap: Int = 100000): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    require(ksub > 1, s"ksub must be > 1: $ksub")
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    def collected(df: DataFrame) = spark.createDataFrame(
      df.select(col("sub"), col("cid"), col("cv"))
        .as[(Int, Int, Seq[Double])].collect().toSeq)
      .toDF("sub", "cid", "cv")
    val train = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("v", assertDim(col("v"), dim))
      .orderBy(xxhash64(col("id")), col("id")).limit(trainCap)
    // materialized once: init + every Lloyd round re-reads this frame,
    // and without the persist each pass re-scans the corpus and re-runs
    // the sampling take (FAISS materializes its training sample for the
    // same reason); bounded at trainCap × dim doubles, freed below
    val subvecs = train
      .select(col("id"), col("v"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("id"), col("sub"),
        slice(col("v"), col("sub") * subDim + 1, lit(subDim)).as("sv"))
      .persist()
    // seed from DISTINCT subvectors: duplicate seeds collapse Lloyd (the
    // tied assignment drains one centroid, the empty one drops out, and
    // the subspace degenerates to a single code); fewer distinct values
    // than ksub legitimately yields a smaller codebook
    val wInit = Window.partitionBy(col("sub")).orderBy(xxhash64(col("sv")), col("sv"))
    var centroids = collected(subvecs
      .select(col("sub"), col("sv")).distinct()
      .withColumn("rn", row_number().over(wInit))
      .filter(col("rn") <= ksub)
      .select(col("sub"), (col("rn") - 1).cast("int").as("cid"), col("sv").as("cv")))
    for (_ <- 1 to iters) {
      val assigned = subvecs.join(broadcast(centroids), Seq("sub"))
        .withColumn("d2", l2DistanceSquared(col("sv"), col("cv")))
        .groupBy(col("id"), col("sub"))
        .agg(first(col("sv")).as("sv"), min(struct(col("d2"), col("cid"))).as("best"))
        .select(col("sub"), col("best.cid").as("cid"), col("sv"))
      val means = assigned
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dimi", "x")))
        // round(avg, 9): avg's partial-aggregation sum order follows the
        // partitioning, so raw means can differ by ULPs across partition
        // counts — and code assignment DISCRETIZES (an argmin over the
        // centroids), where a ULP can flip a near-equidistant subvector's
        // code and with it the pinned golden. 9 dp is far above float
        // noise, far below any real centroid separation. (refineCentroids
        // deliberately does NOT round: its q18/q20/q53 goldens pin the
        // historical unrounded values, and its consumers threshold
        // continuous scores rather than discretize.)
        .groupBy(col("sub"), col("cid"), col("dimi")).agg(round(avg(col("x")), 9).as("mx"))
        .groupBy(col("sub"), col("cid"))
        .agg(sort_array(collect_list(struct(col("dimi"), col("mx")))).as("ds"))
        .select(col("sub"), col("cid"),
          transform(col("ds"), d => d.getField("mx")).as("cv"))
      centroids = collected(means)
    }
    subvecs.unpersist()
    centroids
  }

  /** One-row frame holding the whole codebook as
    * cb[sub][position][dim] — positions are the per-sub cid sort order;
    * codes and ADC tables both index it positionally, so they can never
    * disagree about what a code means. */
  private def packCodebook(cb: DataFrame): DataFrame = cb
    .groupBy(col("sub"))
    .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cs"))
    .select(col("sub"), transform(col("cs"), c => c.getField("cv")).as("cbs"))
    .groupBy()
    .agg(sort_array(collect_list(struct(col("sub"), col("cbs")))).as("ss"))
    .select(transform(col("ss"), s => s.getField("cbs")).as("cb"))

  /** Append a `codes` column (M codes for `vecCol`) to `df` — entirely
    * MAP-SIDE: the packed codebook rides a one-row broadcast, the
    * per-sub argmin is array_position(dists, array_min(dists)) over
    * higher-order functions (first-match ties → deterministic). Other
    * columns pass through untouched, so callers that need the codes
    * NEXT TO other per-row state (e.g. the IVF-PQ cluster id) avoid a
    * corpus-sized re-join on id. No shuffle, no custom state —
    * whole-stage codegen end to end. */
  private def withPqCodes(df: DataFrame, codebook: DataFrame,
      vecCol: String, dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    df.crossJoin(broadcast(packCodebook(codebook)))
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)), s => {
        val sv = slice(col(vecCol), s * subDim + 1, lit(subDim))
        val dists = transform(element_at(col("cb"), s + 1),
          c => l2DistanceSquared(sv, c))
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }))
      .drop("cb")
  }

  /** Encode every vector as M codes (see [[withPqCodes]] for the plan
    * shape); exactly one (id, codes) row per input leaves the stage. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int): DataFrame =
    withPqCodes(
      corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
        .withColumn("v", assertDim(col("v"), dim)),
      codebook, "v", dim, m)
      .select(col("id"), col("codes"))

  /** PQ asymmetric-distance top-k: train codebooks, encode the corpus,
    * and score each probe by table lookup — the probe precomputes an
    * M×ksub table of EXACT subspace distances (broadcast with the
    * probe), a corpus row's approximate distance is M lookups over its
    * codes. Output ranks ascending approximate L2 (ties by neighbor
    * id). Scale shape: after encoding, only (id, M codes) ever moves;
    * the bounded-heap [[graft.functions.TopKByScore]] keeps the final
    * exchange at O(probes × k). */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int, ksub: Int,
      kmeansIters: Int = 2, trainCap: Int = 100000): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, vecCol, dim, m, ksub, kmeansIters, trainCap)
    pqTopKWithCodebook(corpus, probes, idCol, vecCol, k, dim, m, cb)
  }

  /** Serving half of [[pqTopK]] with a PREBUILT codebook — the
    * deployment split: `pqCodebooks` runs once (and its frame persists /
    * writes to the warehouse), then every probe batch pays only ADC
    * scoring. The bench prices each query self-contained (q89/q91/q95
    * each build their own codebooks by design); a deployment amortizes
    * the build across probe batches through this entry point — see
    * README "Build once, serve many". */
  def pqTopKWithCodebook(corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int, m: Int,
      cb: DataFrame): DataFrame = {
    val subDim = dim / m
    // widen the serving-side encode + ADC scan (codebook training above
    // keeps its own bounded sample untouched)
    val codes = pqEncode(Fan.widen(corpus), cb, idCol, vecCol, dim, m)
      .select(col("id").as("neighbor_id"), col("codes"))
    val tables = probes
      .select(col(idCol).as("probe_id"), col(vecCol).cast("array<double>").as("pv"))
      .withColumn("pv", assertDim(col("pv"), dim))
      .crossJoin(broadcast(packCodebook(cb)))
      .withColumn("tables", transform(sequence(lit(0), lit(m - 1)), s => {
        val sv = slice(col("pv"), s * subDim + 1, lit(subDim))
        transform(element_at(col("cb"), s + 1), c => l2DistanceSquared(sv, c))
      }))
      .select(col("probe_id"), col("tables"))
    val scored = codes.join(broadcast(tables))
      .withColumn("adist", round(aggregate(
        zip_with(col("codes"), col("tables"), (cd, t) => element_at(t, cd + 1)),
        lit(0.0), (acc, x) => acc + x), 6))
      // rankTopK keeps the LARGEST scores — negate to rank ascending
      .withColumn("score", -col("adist"))
    rankTopK(scored, k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        (-col("score")).as("adist"))
  }

  /** Exact re-rank of an approximate candidate list (the FAISS refine
    * step): fetch each candidate's TRUE vector, recompute the exact L2
    * distance, and keep each probe's k best — an index retrieves a
    * generous candidate set cheaply (ADC error included), then a final
    * exact pass fixes the order. Works over any rankTopK-shaped list
    * ((probe_id, rank, neighbor_id, …) — [[pqTopK]], [[ivfPqTopK]]).
    *
    * Scale shape: the candidate list is O(probes × R) small and rides
    * broadcasts on BOTH joins, so the corpus is touched by one
    * broadcast-hash semi-join-shaped pass that only materializes
    * candidate vectors — the corpus never shuffles, and the final
    * exchange is the bounded-heap O(probes × k). */
  def refineTopK(candidates: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = Fan.widen(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv")))
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("pv"))
    val scored = c
      .join(broadcast(candidates.select(col("probe_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("dist2", round(l2DistanceSquared(col("pv"), col("cv")), 6))
      .withColumn("score", -col("dist2"))
    rankTopK(scored, k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        (-col("score")).as("dist2"))
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the top-k most cosine-similar corpus vectors carrying a DIFFERENT
    * label — the "looks like me, isn't me" examples a retrieval /
    * embedding trainer pairs against each anchor. Same plan shape as
    * [[bruteForceTopK]]: the anchor set rides a broadcast, the corpus
    * scans once, the different-label predicate folds into the join, and
    * the bounded-heap [[graft.functions.TopKByScore]] keeps the exchange
    * at O(anchors × k).
    *
    * This exact kernel is the oracle shape; at 100 TB the same semantics
    * compose as retrieve-then-filter: over-fetch top-(k·m) from
    * [[ivfTopK]]/[[ivfPqTopK]], drop same-label hits, keep k (re-probing
    * the rare anchor whose over-fetch was exhausted). Deterministic:
    * ties broken by neighbor id on the score rounded to 6 decimals. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val p = anchors.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      col(labelCol).as("p_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("c_label"))
    val scored = c.join(broadcast(p), col("c_label") =!= col("p_label"))
      .withColumn("score", round(cosineSimilarity(col("pv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  /** Triplet mining for metric-learning exports: per anchor, the
    * hardest positive (most-similar SAME-label vector other than the
    * anchor) and the hardest negative (most-similar DIFFERENT-label
    * vector — [[hardNegatives]]' top-1), plus the margin between them.
    * A near-zero or negative margin marks the anchors a contrastive
    * trainer learns most from (semi-hard mining keeps margins in a
    * band; this emits the raw material).
    *
    * One corpus scan serves both sides: the same-label split rides a
    * conditional inside TWO map-side max-struct partial aggregates, so
    * the exchange carries two (score, id) structs per anchor — not a
    * candidate list. Anchors with no same-label peer report a null
    * positive (and null margin) rather than disappearing. */
  def tripletMine(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    val p = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("pv"),
      col(labelCol).as("p_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("c_label"))
    val scored = c.join(broadcast(p), col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosineSimilarity(col("pv"), col("cv")), 6))
      .withColumn("same", col("c_label") === col("p_label"))
    scored.groupBy(col("anchor_id"))
      .agg(
        max(when(col("same"),
          struct(col("score"), (-col("neighbor_id")).as("nid")))).as("p"),
        max(when(!col("same"),
          struct(col("score"), (-col("neighbor_id")).as("nid")))).as("ng"))
      .select(col("anchor_id"),
        (-col("p.nid")).as("pos_id"), col("p.score").as("pos_sim"),
        (-col("ng.nid")).as("neg_id"), col("ng.score").as("neg_sim"),
        round(col("p.score") - col("ng.score"), 6).as("margin"))
  }

  /** Leave-one-out k-NN label agreement — the label-noise gauge next to
    * [[prototypeAudit]]: for each vector, how many of its k nearest
    * (cosine, self excluded) carry its own label. A low agree fraction
    * on a high-confidence label is the classic "this row is mislabeled
    * or lives on a class boundary" curation signal.
    *
    * Exact kernel for the oracle (every vector is a probe — the q73
    * cost family); the 100 TB path feeds the same label join +
    * agreement rollup with [[ivfTopK]]/[[ivfPqTopK]] output. The label
    * joins key O(n × k) ranked rows by id — never a corpus broadcast. */
  def knnLabelAgreement(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame =
    labelAgreementOver(exactSelfTopK(vecs, idCol, vecCol, k),
      vecs, idCol, labelCol)

  /** Exact SELF-kNN (cosine, self excluded, every vector a probe) —
    * the brute-force twin of [[ivfSelfTopK]], named so audits (q223)
    * and rollups can rank once and compose. Same plan as
    * [[bruteForceTopK]] with probes = corpus: the probe side broadcasts,
    * which is exactly what caps this kernel at oracle scale — the
    * indexed sibling is the deployment path. Output is rankTopK-shaped
    * (probe_id, rank, neighbor_id, score). */
  def exactSelfTopK(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val p = vecs.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    // widen: self-kNN is the worst single-split case — the full n²
    // scoring pass lands in the corpus scan stage
    val c = Fan.widen(
      vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosineSimilarity(col("pv"), col("cv")), 6))
    rankTopK(scored, k)
  }

  /** The agreement rollup of [[knnLabelAgreement]] over ANY
    * rankTopK-shaped frame (probe_id, rank, neighbor_id, score) — the
    * composition point that makes the scale path a query, not a
    * sentence: feed it [[ivfSelfTopK]] (round 11, q222) or
    * [[ivfPqTopK]] output instead of the exact ranking. The label
    * joins key O(n × k) ranked rows by id — never a corpus broadcast. */
  def labelAgreementOver(ranked: DataFrame, vecs: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val nLab = vecs.select(col(idCol).as("neighbor_id"), col(labelCol).as("n_label"))
    val own = vecs.select(col(idCol).as("probe_id"), col(labelCol).as("label"))
    ranked.join(nLab, Seq("neighbor_id")).join(own, Seq("probe_id"))
      .groupBy(col("probe_id"))
      .agg(first(col("label")).as("label"),
        sum(when(col("n_label") === col("label"), 1L).otherwise(0L)).as("n_agree"),
        count(lit(1)).as("kk"))
      .select(col("probe_id").as("vec_id"), col("label"), col("n_agree"),
        round(col("n_agree").cast("double") / col("kk"), 6).as("agree_frac"))
  }

  /** Label-prototype audit (mislabel detection): build each label's
    * prototype (the element-wise mean embedding), score every vector
    * against every prototype by cosine, and report the best-matching
    * label next to the recorded one — rows where they disagree are the
    * confident-learning mislabel candidates a curation pipeline routes
    * to review.
    *
    * Oracle-exactness discipline (the q29/q88 rule — only integers are
    * ever summed): vector elements and prototype elements are quantized
    * to integer MICROS per element, so the prototype sum, the dot
    * product, and both norms are exact 64-bit integer arithmetic —
    * addition order can't move the hash — and the single
    * double-precision division happens once per (vector, label).
    *
    * Plan shape: one explode + partial-aggregated groupBy builds the
    * (labels × dim) prototype table — the only shuffle, carrying
    * (label, dim, sum) rows; prototypes then broadcast and scoring is a
    * map-only zip_with/aggregate pass over the corpus (whole-stage
    * codegen, one row per (vector, label) in flight, argmax collapsed
    * map-side by the min-struct partial aggregate). */
  def prototypeAudit(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val el = vecs.select(col(labelCol).as("p_label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("xm", round(col("x") * 1e6).cast("long"))
    val protoArr = el.groupBy(col("p_label"), col("dim"))
      .agg(round(sum(col("xm")).cast("double") / count(lit(1))).cast("long").as("pm"))
      .groupBy(col("p_label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("pm")))).as("ds"))
      .select(col("p_label"),
        transform(col("ds"), d => d.getField("pm")).as("pvm"))
    val vm = vecs.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * 1e6).cast("long")).as("vm"))
    val dotL = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), _ + _)
    val scored = Fan.widen(vm).crossJoin(broadcast(protoArr))
      .withColumn("dot", dotL(col("vm"), col("pvm")))
      .withColumn("vn", dotL(col("vm"), col("vm")))
      .withColumn("pn", dotL(col("pvm"), col("pvm")))
      .withColumn("score",
        when(col("vn") === 0 || col("pn") === 0, lit(0.0))
          .otherwise(round(col("dot").cast("double") /
            sqrt(col("vn").cast("double") * col("pn").cast("double")), 6)))
    scored.groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        min(struct((-col("score")).as("ns"), col("p_label"))).as("b"))
      .select(col("vec_id"), col("label"),
        col("b.p_label").as("pred_label"),
        (-col("b.ns")).as("best_sim"),
        (col("label") =!= col("b.p_label")).as("mislabeled"))
  }

  /** Mutual k-NN graph from any rankTopK-shaped frame (probe_id, rank,
    * neighbor_id, score): keep the undirected edge (a, b), a < b, iff
    * b is in a's top-k AND a is in b's top-k. Mutuality is the standard
    * symmetrization that drops hub-induced one-way edges before
    * clustering/community detection (the k-NN-graph step of semantic
    * clustering pipelines).
    *
    * Composable by construction: feed it [[bruteForceTopK]] for the
    * exact graph (small corpora / oracle checks) or [[ivfTopK]] /
    * [[ivfPqTopK]] for the 100 TB path — the mutual filter itself is
    * one hash exchange on the canonicalized (lo, hi) edge key over
    * O(n × k) rows, never the corpus. Self-edges (a probe's rank-1 hit
    * is itself) are dropped. Cosine is symmetric, so both directions
    * carry the same rounded score; `first` keeps it. */
  def mutualTopK(topk: DataFrame): DataFrame = {
    val directed = topk
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(least(col("probe_id"), col("neighbor_id")).as("a_id"),
        greatest(col("probe_id"), col("neighbor_id")).as("b_id"),
        col("score"),
        (col("probe_id") < col("neighbor_id")).as("fwd"))
    // min, not first: both directions carry the same rounded score for a
    // symmetric metric, but min keeps the result deterministic even if a
    // caller feeds an asymmetric score (e.g. ADC distance) in
    directed.groupBy(col("a_id"), col("b_id"))
      .agg(min(col("score")).as("sim"),
        countDistinct(col("fwd")).as("dirs"))
      .filter(col("dirs") === 2)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** k-center greedy coreset (farthest-point traversal, Gonzalez 1985 —
    * the diversity-selection baseline of coreset active learning, Sener
    * & Savarese 2018): seed with the min-id vector, then repeatedly take
    * the vector FARTHEST from the selected set (max min-distance,
    * min-id tie-break). The selected k vectors cover the corpus within
    * the best 2-approximation radius any poly algorithm guarantees —
    * the canonical "diverse subset" for eval-set picking, dedup-aware
    * sampling, and annotation budgeting.
    *
    * Scale shape: min-distances are maintained INCREMENTALLY — each
    * round broadcasts exactly one new center into a codegen'd
    * `least(dmin, dist²)` map pass, so the total work is k linear scans
    * (never all-pairs, no k×corpus join). Per round: one argmax job
    * (bounded `limit(1)` sort) + one localCheckpoint to keep the fold
    * from re-deriving — the BPE merge-loop cost regime, hence the same
    * loud budget bound (k ≤ 256; beyond that, select per-IVF-cluster
    * and union). Distances are pinned to integer micro-units before the
    * argmax, so the traversal is partitioning-independent; a max
    * distance of 0 means everything left duplicates a center and the
    * traversal stops early. Returns (rank, vec_id, dist_micros) in
    * selection order — dist_micros is the squared-L2 coverage radius at
    * that step (0 for the seed), whose decay curve is the stopping
    * diagnostic.
    *
    * Driver pacing is BATCHED without changing the selection by one
    * bit: each scan collects the top pool+1 frontier rows by
    * (dmin desc, id) — physically a TOURNAMENT, TakeOrderedAndProject
    * runs a per-partition top-(pool+1) and merges the ≤ partitions×pool
    * survivors at the driver — and the driver keeps picking exact
    * greedy centers from that candidate pool, updating the pool's
    * min-distances locally with the SAME floor(d²·1e6 + 0.5) integer
    * arithmetic the codegen kernel computes, for as long as the
    * pick's updated distance stays STRICTLY above the (pool+1)-th
    * candidate's scanned distance. Every point outside the pool has
    * current dmin ≤ that bound (dmin only ever decreases), so a
    * strictly-above pick is the global argmax and no tie-break can be
    * contested; the first pick after a fresh scan is exact
    * unconditionally.
    *
    * Round 9 made the pool ADAPTIVE (`scanBatch = 0`, the default):
    * each scan sizes its pool to the picks still owed,
    * min(max(16, k−picked), 4096), so the scan count no longer grows
    * with k — one scan can yield the whole remaining selection when
    * the bound doesn't contest it, and even the adversarial worst case
    * costs ~k/4096 scans per 4096 picks plus the geometry-forced
    * rescans. The pool stays a bounded driver artifact (≤ 4096 rows ×
    * vector dim). An explicit `scanBatch > 0` pins the pool size
    * exactly — `scanBatch = 1` IS the classic one-pick-per-scan
    * traversal, which the differential spec uses to pin the batched
    * selection bit-identical (KMeansSpec). */
  def kCenterGreedy(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, scanBatch: Int = 0): DataFrame = {
    require(k >= 1 && k <= 65536,
      s"kCenterGreedy supports 1 <= k <= 65536 (adaptive pool of <= 4096 " +
        s"candidates per scan), got $k")
    require(scanBatch >= 0 && scanBatch <= 4096,
      s"kCenterGreedy scanBatch must be in [0 (adaptive), 4096], got $scanBatch")
    Guards.requireIntegralId(vecs, idCol, "kCenterGreedy seeding")
    val spark = vecs.sparkSession
    import spark.implicits._
    def distMicros(v: Column, center: Seq[Double]): Column =
      floor(graft.functions.l2DistanceSquared(v, typedLit(center))
        * lit(1000000.0) + lit(0.5)).cast("long")
    // bit-identical driver twin of the codegen kernel + micro pinning:
    // ascending-index fold, then floor(s·1e6 + 0.5)
    def distMicrosLocal(a: Seq[Double], b: Seq[Double]): Long = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.floor(s * 1000000.0 + 0.5).toLong
    }
    val base = vecs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val seed = base.orderBy(col("id")).limit(1)
      .as[(Long, Seq[Double])].collect()
    require(seed.nonEmpty, "kCenterGreedy: empty input")
    var selection = List((1, seed(0)._1, 0L))
    var cur = base
      .withColumn("dmin", distMicros(col("v"), seed(0)._2))
      .pinned
    var r = 2
    var done = false
    while (r <= k && !done) {
      // adaptive (scanBatch = 0): size the pool to the picks still owed,
      // capped at 4096 candidate rows — bounded driver memory, scan
      // count independent of k up to that cap
      val poolSize =
        if (scanBatch > 0) scanBatch
        else math.min(math.max(16, k - r + 1), 4096)
      val cand = cur.orderBy(col("dmin").desc, col("id"))
        .limit(poolSize + 1).as[(Long, Seq[Double], Long)].collect()
      if (cand.isEmpty || cand(0)._3 == 0L) done = true
      else {
        // everything outside the pool has dmin ≤ bound, now and for
        // the rest of this batch; a short scan means the pool IS the
        // whole frame and nothing is outside
        val bound = if (cand.length == poolSize + 1) cand.last._3 else -1L
        val pool = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double], Long)]
        pool ++= cand.take(poolSize)
        var newCenters = List.empty[Seq[Double]]
        var first = true
        var batchOpen = true
        while (batchOpen && r <= k && !done) {
          var bi = -1
          var i = 0
          while (i < pool.length) {
            if (bi < 0 || pool(i)._3 > pool(bi)._3
              || (pool(i)._3 == pool(bi)._3 && pool(i)._1 < pool(bi)._1)) bi = i
            i += 1
          }
          if (bi < 0) batchOpen = false
          else {
            val (id, v, d) = pool(bi)
            if (d == 0L) {
              // pool exhausted at distance 0; with nothing (or only
              // zeros) outside, the traversal is finished — otherwise
              // rescan for the ≤-bound frontier
              if (bound <= 0L) done = true
              batchOpen = false
            } else if (!first && d <= bound) batchOpen = false
            else {
              selection ::= ((r, id, d))
              r += 1
              newCenters ::= v
              pool.remove(bi)
              var j = 0
              while (j < pool.length) {
                val p = pool(j)
                val nd = distMicrosLocal(p._2, v)
                if (nd < p._3) pool(j) = (p._1, p._2, nd)
                j += 1
              }
              first = false
            }
          }
        }
        if (newCenters.nonEmpty && r <= k && !done) {
          // two spellings of the SAME integer update, chosen by batch
          // size: the withColumn fold is whole-stage-codegen-friendly
          // but nests one least() per center (a 4096-pick batch would
          // blow past the JIT method limit); the packed path ships ALL
          // new centers as one array-of-arrays literal and takes
          // array_min over a transform() — one expression regardless of
          // batch size. Both compute floor(l2(v,c)²·1e6 + 0.5) with the
          // same ascending-index fold, so the longs are identical and
          // the differential spec can pin either against scanBatch=1.
          val updated = (
            if (newCenters.length <= 64)
              newCenters.foldLeft(cur) { (df, c) =>
                df.withColumn("dmin", least(col("dmin"), distMicros(col("v"), c)))
              }
            else
              cur.withColumn("dmin", least(col("dmin"), array_min(
                transform(typedLit(newCenters),
                  c => floor(graft.functions.l2DistanceSquared(col("v"), c)
                    * lit(1000000.0) + lit(0.5)).cast("long")))))
          ).pinned
          Pin.release(cur)
          cur = updated
        }
      }
    }
    Pin.release(cur)
    spark.createDataFrame(selection.reverse)
      .toDF("rank", "vec_id", "dist_micros")
  }

  /** MMR diversity re-rank over any rankTopK-shaped frame: joins the
    * candidates back to their vectors (candidate-keyed join — the
    * candidate frame is O(probes × k), tiny next to the corpus), groups
    * per probe, and runs the greedy [[graft.functions.MmrKernel]]
    * selection (λ·relevance − (1−λ)·max-sim-to-selected, first pick by
    * pure relevance, id tie-breaks). The kernel's selection is a pure
    * function of the candidate SET, so collect order can't move the
    * output. Returns (probe_id, mmr_rank, neighbor_id). */
  def mmrRerankTopK(topk: DataFrame, vecs: DataFrame, idCol: String,
      vecCol: String, lambda: Double, k: Int): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerankTopK: lambda must be in [0, 1], got $lambda")
    topk
      .join(vecs.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__v")), Seq("neighbor_id"))
      .groupBy(col("probe_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("score"),
        col("__v"))).as("c"))
      .select(col("probe_id"),
        graft.functions.mmrRerank(col("c"), lambda, k).as("sel"))
      .select(col("probe_id"), posexplode(col("sel")).as(Seq("r0", "neighbor_id")))
      .select(col("probe_id"), (col("r0") + 1).cast("int").as("mmr_rank"),
        col("neighbor_id"))
  }

  /** Per-vector symmetric int8 quantization profile — the serving-side
    * memory story (4× over float32, 16× over float64) a 100 TB embedding
    * store actually ships: q_i = clamp(round(x_i / s), ±127) with
    * s = max|x| / 127 per vector. Returns exact-integer audit columns
    * (the DuckDB-oracle discipline: per-ELEMENT rounding to fixed-point
    * BEFORE any sum, so float addition order can't move the hash):
    * scale_nano, sum_q, sum_abs_q, and err_pico = Σ round((q_i·s − x_i)²
    * · 1e12). Map-only — no shuffle, no driver state; a zero vector
    * quantizes to all-zero with scale 0 rather than dividing by zero. */
  def int8QuantizeProfile(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // one-pass codegen kernel (functions/Int8QuantKernel): the HOF
    // spelling below re-evaluated array_max + scale inside every
    // per-element lambda of three folds — O(3d²) scans per row,
    // 8.3 s for 4000 vectors at sf0.1 once the v2 bench stopped
    // letting count() prune the sums. Bit-identical (differential
    // spec + q29 oracle re-verified).
    val p = graft.functions.int8QuantProfile(
      col(vecCol).cast("array<double>"))
    vecs.select(col(idCol).as("vec_id"), p.as("__p"))
      .select(col("vec_id"),
        col("__p.scale_nano").as("scale_nano"),
        col("__p.sum_q").as("sum_q"),
        col("__p.sum_abs_q").as("sum_abs_q"),
        col("__p.err_pico").as("err_pico"))
  }

  /** The original HOF spelling — kept (test-only) as the executable
    * specification the kernel differential spec pins against. */
  private[graft] def int8QuantizeProfileHof(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxabs = array_max(transform(v, x => abs(x)))
    val scale = maxabs / lit(127.0)
    val qi: Column => Column = x =>
      when(maxabs === 0, lit(0L))
        .otherwise(greatest(lit(-127L), least(lit(127L),
          round(x / scale).cast("long"))))
    val errPico: Column => Column = x => {
      val d = qi(x).cast("double") * scale - x
      round(d * d * lit(1e12)).cast("long")
    }
    vecs.select(col(idCol).as("vec_id"),
      round(scale * lit(1e9)).cast("long").as("scale_nano"),
      aggregate(transform(v, x => qi(x)), lit(0L), _ + _).as("sum_q"),
      aggregate(transform(v, x => abs(qi(x))), lit(0L), _ + _).as("sum_abs_q"),
      aggregate(transform(v, x => errPico(x)), lit(0L), _ + _).as("err_pico"))
  }

  /** Recall@k of an approximate ANN result against an exact one — the
    * standard index-quality gauge (one row per probe: hits / truth
    * size). Both inputs are rankTopK-shaped (probe_id, rank,
    * neighbor_id, …) and O(probes × k) small; the eval is a toy join —
    * it's the indexes feeding it that cost. At 100 TB you run this on
    * a sampled probe set after every index build: a threshold drop is
    * the first sign a codebook trained on a drifted corpus. */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame =
    truth.filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"))
      .join(approx.filter(col("rank") <= k)
          .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_truth"), 4))

  // ---------------------------------------------------------------------
  // IVF-PQ (Jégou, Douze, Schmid 2011 §IV — the FAISS "IVFx,PQy"
  // production shape): the coarse IVF quantizer cuts how much of the
  // corpus a probe scans, and PQ codes over the RESIDUAL (v − coarse
  // centroid) cut what each kept vector costs in memory. Residual
  // encoding is what makes the combination better than either piece:
  // residuals concentrate near the origin, so the same ksub codes per
  // subspace quantize far finer than on raw vectors, and within a
  // shared cell ‖p − x‖² = ‖(p−c) − (x−c)‖² exactly — recentering
  // loses nothing from the ADC estimate.
  // ---------------------------------------------------------------------

  /** IVF-PQ approximate top-k. Index build: coarse centroids
    * (stride-seeded + honest Lloyd rounds), per-vector cell assignment
    * with the residual computed in the SAME partial-agg argmin pass
    * (the centroid vector rides the min-struct behind (dist2, id), so
    * the compare never reaches it and no re-join on id is needed),
    * shared PQ codebooks trained on the residuals, residual codes
    * encoded in place next to the cell id. Query: each probe
    * multi-probes its `nProbe` nearest cells (bounded-heap top-k) and
    * precomputes one ADC table PER PROBED CELL from its recentered
    * residual; scoring a corpus row is M lookups. Scale shape: after
    * encoding, only (id, cell, M codes) ever moves; probes/tables ride
    * broadcasts; the final exchange is O(probes × k) via the bounded
    * heap. A corpus vector lives in exactly one cell, so multi-probe
    * can never emit a (probe, neighbor) pair twice — no dedup pass.
    *
    * Coarse centroid components are rounded to 9 dp: BOTH downstream
    * uses discretize (the cell argmin and, through the residual, the
    * PQ code argmin), where partial-agg ULP jitter in an unrounded
    * mean can flip an assignment (same reasoning as the pqCodebooks
    * mean rounding; [[refineCentroids]] itself stays unrounded for its
    * pinned q18/q20/q53 consumers). */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int, ksub: Int,
      nProbe: Int = 2, nCells: Int = 0, kmeansIters: Int = 2,
      pqIters: Int = 2, trainCap: Int = 100000): DataFrame = {
    val subDim = dim / m
    val base = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("v", assertDim(col("v"), dim))
    val seeds = ivfSeeds(base, "id", "v", nCells, "ivfPqTopK")
    val coarse0 =
      if (kmeansIters <= 0) seeds
      else refineCentroids(base, seeds, "id", "v", kmeansIters)
    val coarse = coarse0.select(col("centroid_id"),
      transform(col("cv").cast("array<double>"), x => round(x, 9)).as("cv"))
    val assigned = base.join(broadcast(coarse))
      .withColumn("dist2", l2DistanceSquared(col("v"), col("cv")))
      .groupBy(col("id"))
      .agg(first(col("v")).as("v"),
        min(struct(col("dist2"), col("centroid_id"), col("cv"))).as("best"))
      .select(col("id"), col("best.centroid_id").as("cluster"),
        zip_with(col("v"), col("best.cv"), (a, b) => a - b).as("r"))
    val cb = pqCodebooks(assigned, "id", "r", dim, m, ksub, pqIters, trainCap)
    val codes = withPqCodes(assigned, cb, "r", dim, m)
      .select(col("id").as("neighbor_id"), col("cluster"), col("codes"))
    val probed = probes
      .select(col(idCol).as("probe_id"), col(vecCol).cast("array<double>").as("pv"))
      .withColumn("pv", assertDim(col("pv"), dim))
      .join(broadcast(coarse))
      .withColumn("score", -l2DistanceSquared(col("pv"), col("cv")))
      .groupBy(col("probe_id"))
      .agg(first(col("pv")).as("pv"),
        topKByScore(col("score"), col("centroid_id"), nProbe).as("cells"))
      .select(col("probe_id"), col("pv"), explode(col("cells")).as("cell"))
      .select(col("probe_id"), col("pv"), col("cell.id").as("cluster"))
      .join(broadcast(coarse.withColumnRenamed("centroid_id", "cluster")),
        Seq("cluster"))
      .withColumn("rp", zip_with(col("pv"), col("cv"), (a, b) => a - b))
    val tables = probed.crossJoin(broadcast(packCodebook(cb)))
      .withColumn("tables", transform(sequence(lit(0), lit(m - 1)), s => {
        val sv = slice(col("rp"), s * subDim + 1, lit(subDim))
        transform(element_at(col("cb"), s + 1), c => l2DistanceSquared(sv, c))
      }))
      .select(col("probe_id"), col("cluster"), col("tables"))
    val scored = codes.join(broadcast(tables), Seq("cluster"))
      .withColumn("adist", round(aggregate(
        zip_with(col("codes"), col("tables"), (cd, t) => element_at(t, cd + 1)),
        lit(0.0), (acc, x) => acc + x), 6))
      .withColumn("score", -col("adist"))
    rankTopK(scored, k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        (-col("score")).as("adist"))
  }
}
