package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.ops.Pin.PinSyntax

/** Near-duplicate detection operators for large-scale training-data
  * pipelines. All are pure DataFrame→DataFrame with LSH-style blocking so
  * the candidate set — never the full cross product — is what shuffles.
  *
  * Scale design (100 TB): candidate generation explodes each doc into a
  * few small (band, hash) keys and groups on them, emitting in-bucket
  * pairs in ONE pass over the corpus (see [[Dedup.sizeFilteredBucketPairs]] — a
  * banded self-join would scan and re-hash everything twice);
  * verification re-joins the pair list back to the docs table on id
  * (hash join on a compact pair list) instead of carrying shingle
  * arrays through the band explode, which would multiply scan output
  * by the band count.
  */
object Dedup {

  /** Exact duplicate groups by content hash; keeps the minimum id as the
    * canonical representative (deterministic). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** Shared bucket-collection core of the LSH kernels: group the banded
    * frame by band key and keep a bounded, deterministic sample of each
    * bucket (the `maxBucket` smallest ids, ascending), plus observable
    * truncation statistics. ONE pass over the banded rows — a banded
    * SELF-join evaluates its whole subplan twice (broadcast build +
    * streamed probe, or two shuffle branches; ReuseExchange cannot fire
    * across the two shapes), which at 100 TB means scanning the corpus
    * and computing every signature twice.
    *
    * The buffer is bounded BEFORE any materialization: [[graft.functions.collectMinK]]
    * keeps an O(maxBucket) heap per group (partial aggregation applies),
    * so a degenerate band key — templated boilerplate that survives
    * exact dedup and lands millions of near-identical docs under one
    * key — cannot produce a multi-GB aggregation row the way
    * `collect_list` + `slice` would (slice caps only the output, after
    * the whole bucket is buffered). Truncation is observable, not
    * silent: `n` counts every row the bucket saw, and an `observe`
    * metric (`graft_lsh_buckets_*`: over_cap_buckets / max_bucket_rows /
    * buckets) surfaces recall loss to QueryExecutionListeners.
    *
    * `payload` is a long that rides the aggregation next to the id
    * (e.g. a SimHash — so the corpus is hashed exactly once); pass the
    * id itself when unused. Heap compares are on plain longs — never
    * struct compare, which profiling showed dominating the r3 simhash
    * kernel's `array_sort(collect_list(struct))`. */
  private def cappedBuckets(banded: DataFrame, payload: Column,
      maxBucket: Int, minSize: Int = 2): DataFrame = {
    // the heap kernel compares raw longs; a non-integral id would cast
    // to null and silently empty every bucket — shared guard raises
    Guards.requireIntegralId(banded, "id", "LSH bucket kernels")
    val statsName = s"graft_lsh_buckets_${statsCounter.incrementAndGet()}"
    banded.groupBy(col("bk"))
      .agg(collectMinK(col("id"), payload, maxBucket).as("g"))
      .observe(statsName,
        sum(when(col("g.n") > maxBucket, 1L).otherwise(0L)).as("over_cap_buckets"),
        max(col("g.n")).as("max_bucket_rows"),
        count(lit(1)).as("buckets"))
      .select(col("bk"), col("g.items").as("vs"))
      .filter(size(col("vs")) >= minSize)
  }

  /** Monotone suffix for per-call observe-metric names (Spark requires
    * metric names unique within a query). */
  private val statsCounter = new java.util.concurrent.atomic.AtomicLong()

  /** In-bucket ascending (a, b) pair expansion over a capped bucket's
    * `vs` array — the ONE implementation of the slice arithmetic every
    * self-join LSH kernel shares (an off-by-one here corrupts all of
    * them identically, which is the point: fix once). `withPayload`
    * additionally carries each side's long payload as (av, bv) for
    * kernels that verify on it (SimHash's popcount). */
  private def selfPairs(withPayload: Boolean): Column =
    flatten(transform(col("vs"), (x, i) =>
      transform(slice(col("vs"), i + lit(2), size(col("vs"))), y =>
        if (withPayload)
          struct(x.getField("id").as("a"), y.getField("id").as("b"),
            x.getField("v").as("av"), y.getField("v").as("bv"))
        else struct(x.getField("id").as("a"), y.getField("id").as("b")))))

  /** Candidate pairs (a_id < b_id, deduped) from an exploded
    * (id, dsz, bk) banding frame: in-bucket combinations of each capped
    * bucket's ascending id list (see [[cappedBuckets]] for the bounding
    * and one-pass rationale). A bucket beyond `maxBucket` is a
    * degenerate hash collision (band geometry keeps
    * background-similarity buckets tiny); its pairs are
    * deterministically truncated to the `maxBucket` smallest ids —
    * O(maxBucket²) structs per row, never an unbounded single-row
    * array. The strict a < b filter also drops self-pairs that
    * duplicated input ids would produce. The in-bucket HOF lambdas run
    * per bucket over a handful of ids — never on the hot per-document
    * path.
    *
    * The EXACT Jaccard length filter is applied
    * INSIDE the explode stage (round 14 — the q17 candidate-shrinking
    * mandate, the same before-the-exchange discipline as
    * [[prefilteredBucketPairs]]): the banded frame carries each doc's
    * DISTINCT window-hash count (`dsz`, the exact |A| of the set the
    * verify compares) as the bucket payload, and a candidate pair is
    * dropped when tau·max(|A|,|B|) > min(|A|,|B|) — which PROVES
    * j < tau, so the drop can never change a verified pair set (the
    * prefix-filter family's length filter, Xiao et al. WWW'08; unlike
    * the embedding prefilter's probabilistic tail this one is lossless
    * by arithmetic, hence no false-drop budget to document). What it
    * buys at scale: in-bucket pair explosion from saturated char-gram
    * buckets is pruned before the dropDuplicates exchange AND before
    * the per-pair exact-Jaccard verify — the verify is the q17 cost
    * center once buckets fill (sf10 lane: 9.1×/decade), and roughly
    * half of random-length candidate pairs fail the ratio at
    * tau = 0.6 on the test corpus length spread. */
  private def sizeFilteredBucketPairs(banded: DataFrame, tauMicro: Long,
      maxBucket: Int = 1024): DataFrame = {
    require(tauMicro > 0 && tauMicro <= 1000000L,
      s"length filter tauMicro must be in (0, 1e6], got $tauMicro")
    cappedBuckets(banded, col("dsz"), maxBucket)
      .drop("bk")
      .select(explode(selfPairs(withPayload = true)).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"),
        col("p.av").as("sa"), col("p.bv").as("sb"))
      .filter(col("a_id") < col("b_id") &&
        lit(tauMicro) * greatest(col("sa"), col("sb")) <=
          lit(1000000L) * least(col("sa"), col("sb")))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"))
  }

  /** Hyperplane-family offset for the 64-bit PREFILTER signature the
    * embedding near-dup kernels thread through their buckets: planes
    * 64..127, disjoint from any bucketing signature's planes 0..63
    * ([[embeddingNearDupsSrp]] buckets on planes 0..31 — shared planes
    * would make in-bucket pairs auto-agree on the shared bits and
    * blunt the filter by exactly that much). */
  private[graft] val PrefilterPlaneOffset = 64

  /** Conservative Hamming cap for the 64-bit SRP prefilter at cosine
    * `threshold`: a true pair at exactly the threshold flips each
    * signature bit independently with p = angle/π (Charikar), so its
    * Hamming distance is Binomial(64, acos(t)/π) with mean μ; the cap
    * 3μ+3 puts the false-drop tail below ~2·10⁻⁴ at t = 0.999 (μ =
    * 0.91) and ~10⁻⁷ at t = 0.95 (μ = 6.5), while a random pair (μ =
    * 32) passes with ~10⁻¹¹ / ~2% respectively — the asymmetry that
    * lets the prefilter run BEFORE the candidate exchange. Pairs ABOVE
    * the threshold flip strictly fewer bits, so the cap is loosest
    * exactly at the boundary. 64 disables the filter (Hamming can
    * never exceed 64). */
  private[graft] def srpHamMax(threshold: Double): Int = {
    val mu = 64.0 * math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    math.min(64, math.ceil(3.0 * mu).toInt + 3)
  }

  /** [[sizeFilteredBucketPairs]] with the simHashPairs discipline applied to
    * embeddings (round 13): the banded frame carries a 64-bit SRP
    * prefilter signature (`psig`, planes [[PrefilterPlaneOffset]]..)
    * as the bucket payload, and candidate pairs are Hamming-filtered
    * IN THE EXPLODE STAGE — before the dropDuplicates exchange and
    * before any vector rejoin. The round-13 sf10 lane measured why
    * this is load-bearing, twice over: (a) the in-bucket pair
    * expansion is invisible to Catalyst's Generate stats (a 12 MiB
    * bucket stage was estimated to stay 12 MiB while really exploding
    * to 7.4 GiB / 331 M pairs), so AQE broadcast the candidate side
    * and died on spark.driver.maxResultSize; (b) carrying 64-float
    * vectors through the candidate joins put ~100 GB on the shuffle
    * channel at n = 400 k. Post-filter, the surviving pair set is
    * within a hair of the TRUE near-dup set (see [[srpHamMax]] for the
    * tail bounds), so whatever join strategy AQE picks for the verify
    * rejoin is cheap — candidates never carry vectors to the wire. */
  private def prefilteredBucketPairs(banded: DataFrame, hamMax: Int,
      maxBucket: Int = 1024): DataFrame = {
    require(hamMax >= 0 && hamMax <= 64,
      s"prefilter hamMax must be in [0, 64], got $hamMax")
    cappedBuckets(banded, col("psig"), maxBucket)
      .drop("bk")
      .select(explode(selfPairs(withPayload = true)).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"),
        bit_count(col("p.av").bitwiseXOR(col("p.bv"))).as("ham"))
      .filter(col("a_id") < col("b_id") && col("ham") <= hamMax)
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"))
  }

  /** MinHash+LSH near-dup pairs: fused word-shingle rolling hash → k
    * minhashes → `bands` band keys → equi-join on band key → exact
    * hashed-shingle-set Jaccard verify. Returns (a_id, b_id, jaccard)
    * with a_id < b_id.
    *
    * NO cache, NO checkpoint, and nothing wide in any exchange: the
    * banding pass computes the signature with [[graft.functions.wordNgramMinHash]]
    * (one rolling-hash update + k multiply-adds per window, zero
    * per-shingle allocations), so recomputing beats caching — round 1
    * persisted materialized shingle arrays and leaked them; round 2
    * measured the fused kernel faster than the warm cache it replaced.
    * Verify re-reads only the candidate rows' text via two id equi-joins
    * (AQE broadcasts the compact pair list).
    *
    * `threshold` domain is (0, 1] — the in-explode length filter
    * ([[sizeFilteredBucketPairs]]) raises at PLAN time for values
    * outside it (round-14 ADVICE #3: previously any threshold built a
    * valid plan; > 1 just verified to empty). Callers forwarding
    * user-supplied thresholds (EventPipeline) must validate or clamp
    * at their boundary. Same contract on [[ngramJaccardPairs]]. */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // validate the DOUBLE, not its micro rounding: thresholds below
    // 5e-7 round to 0 micro, which the length filter's require would
    // reject despite being inside the documented (0, 1] domain
    // (round-15 ADVICE); the max(1) keeps such a threshold a no-op
    // filter instead of a plan-time crash
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val rows = k / bands
    // widen: the fused signature kernel (rolling hash + k multiply-adds
    // per window) is the scan stage's compute — single-split inputs
    // would run it on one core (Fan.widen is a no-op at scale widths)
    val base = Fan.widen(
      docs.select(col(idCol).as("id"), col(textCol).as("txt")))
    // dsz = exact distinct-window count, computed once per doc in the
    // same projection as the signature — fuels the in-explode length
    // filter (see sizeFilteredBucketPairs)
    val banded = base.select(col("id"),
      wordNgramDistinctCount(col("txt"), shingleLen).as("dsz"),
      explode(lshBandKeys(wordNgramMinHash(col("txt"), shingleLen, k), bands, rows)).as("bk"))
    sizeFilteredBucketPairs(banded,
      math.max(1L, math.round(threshold * 1000000L)))
      .join(base.select(col("id").as("a_id"), col("txt").as("a_txt")), "a_id")
      .join(base.select(col("id").as("b_id"), col("txt").as("b_txt")), "b_id")
      .withColumn("jaccard", wordNgramJaccard(col("a_txt"), col("b_txt"), shingleLen))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus MinHash+LSH near-dup pairs — the INCREMENTAL ingest
    * shape: find near-duplicates of `probe` docs (a new crawl batch)
    * within `corpus` (the existing warehouse) without self-joining
    * either side. Each side is scanned ONCE with the fused signature
    * kernel and aggregated into capped per-band buckets; candidates are
    * the band-key equi-join of the two bucket frames (one row per shared
    * band key, never a row-per-member fan-out on the skew side), pairs
    * explode from the bounded id-list product — O(maxBucket²) structs
    * per bucket row worst case, which is why the cross default is lower
    * than the self-join kernel's — and the exact shingle-set Jaccard
    * verifies each deduped pair via two id equi-joins. Returns
    * (corpus_id, probe_id, jaccard); within-batch duplicates are
    * [[minHashPairs]]' job, not this one's. */
  def minHashPairsBetween(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 256): DataFrame = {
    val rows = k / bands
    val cBase = corpus.select(col(idCol).as("id"), col(textCol).as("txt"))
    val pBase = probe.select(col(idCol).as("id"), col(textCol).as("txt"))
    def banded(b: DataFrame) = Fan.widen(b).select(col("id"),
      explode(lshBandKeys(wordNgramMinHash(col("txt"), shingleLen, k), bands, rows)).as("bk"))
    // minSize = 1: a single-member bucket still pairs with the OTHER side
    val cBuckets = cappedBuckets(banded(cBase), col("id"), maxBucket, minSize = 1)
      .withColumnRenamed("vs", "cvs")
    val pBuckets = cappedBuckets(banded(pBase), col("id"), maxBucket, minSize = 1)
      .withColumnRenamed("vs", "pvs")
    val combos = flatten(transform(col("cvs"), x =>
      transform(col("pvs"), y =>
        struct(x.getField("id").as("a"), y.getField("id").as("b")))))
    cBuckets.join(pBuckets, "bk")
      .select(explode(combos).as("p"))
      .select(col("p.a").as("corpus_id"), col("p.b").as("probe_id"))
      .dropDuplicates("corpus_id", "probe_id")
      .join(cBase.select(col("id").as("corpus_id"), col("txt").as("a_txt")), "corpus_id")
      .join(pBase.select(col("id").as("probe_id"), col("txt").as("b_txt")), "probe_id")
      .withColumn("jaccard", wordNgramJaccard(col("a_txt"), col("b_txt"), shingleLen))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("probe_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Keep only the `probe` docs with NO near-duplicate in `corpus` — the
    * incremental-ingest filter composed from [[minHashPairsBetween]]
    * (map-only anti-join beyond the pair list). */
  def dedupAgainstCorpus(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val dupes = minHashPairsBetween(corpus, probe, idCol, textCol,
      threshold = threshold)
      .select(col("probe_id").as(idCol)).distinct()
    probe.join(dupes, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit simhash, banded into 4×16-bit chunks
    * (any pair within Hamming distance 3 of each other shares at least one
    * intact chunk; we use it as a recall-oriented blocker and verify with
    * the exact popcount). Returns (a_id, b_id, hamming), a_id < b_id. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucket: Int = 1024): DataFrame = {
    // the 64-bit hash rides through the bucket aggregation as the
    // collectMinK long payload (8 bytes per banded row) so the corpus is
    // hashed exactly ONCE — re-joining sh by id would re-evaluate
    // simHash per branch
    // widen BEFORE hashing: the 64-bit simhash is the per-doc compute,
    // so the exchange must sit between the scan and the hash projection
    val base = Fan.widen(docs.select(col(idCol).as("id"), col(textCol).as("__txt")))
      .select(col("id"), simHash(col("__txt")).as("sh"))
    val banded = base.select(col("id"), col("sh"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xffffL)).as("chunk"))): _*)).as("bk"))
    cappedBuckets(banded, col("sh"), maxBucket)
      .select(explode(selfPairs(withPayload = true)).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"),
        bit_count(col("p.av").bitwiseXOR(col("p.bv"))).as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // dropDuplicates exchange is equivalent — and it is the difference
      // between shuffling every in-bucket candidate (16-bit chunks
      // collide freely: ~1M candidates from a 10k-doc profile corpus)
      // and shuffling only the verified survivors
      .filter(col("a_id") < col("b_id") && col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }

  /** Exact shared-window overlap pairs — the window-granular form of
    * suffix-array substring dedup (two docs sharing any `window`-word
    * run share that run's window grams): count, for every doc pair, the
    * DISTINCT word `window`-grams they have in common, and keep pairs
    * with at least `minShared`. Exact where MinHash is probabilistic —
    * the tool for "doc B embeds three paragraphs of doc A", which can
    * sit below any whole-doc Jaccard threshold.
    *
    * Same one-pass bucket shape as the LSH kernels ([[cappedBuckets]]),
    * with the window gram's 64-bit hash as the bucket key: the exchange
    * carries (8-byte hash, id) rows — never gram text — and each shared
    * window contributes exactly one in-bucket pair occurrence, so the
    * per-pair occurrence count IS the shared-window count (grams are
    * per-doc deduped first). A window shared by more than `maxBucket`
    * docs is capped like any degenerate LSH bucket (that's boilerplate —
    * [[graft.ops.Corpus.stripBoilerplate]]'s job, observable via the
    * bucket metrics), bounding the quadratic pair fan-out. */
  def sharedWindowPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 10, minShared: Int = 2, maxBucket: Int = 256): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val banded = Fan.widen(docs.select(col(idCol).as("id"), toks.as("t")))
      .select(col("id"), explode(array_distinct(
        graft.ops.Corpus.wordNgrams(col("t"), window))).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("bk"))
    countedPairs(banded, maxBucket, minShared)
  }

  /** Shared tail of the exact-overlap kernels ([[sharedWindowPairs]],
    * [[graft.multimodal.Multimodal.binaryNearDups]]): capped buckets →
    * in-bucket pairs → per-pair occurrence count (each shared key
    * contributes exactly one occurrence because keys are per-doc
    * deduped upstream) → `minShared` gate. Input is the exploded
    * (id, bk) frame. */
  private[graft] def countedPairs(banded: DataFrame, maxBucket: Int,
      minShared: Int): DataFrame =
    cappedBuckets(banded, col("id"), maxBucket)
      .select(explode(selfPairs(withPayload = false)).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Character n-gram Jaccard pairs. Candidates come from MinHash-LSH
    * banding over the SAME char n-gram sets (not a quadratic in-block
    * pairing — a 500-doc block is already 125k exact Jaccards, which is
    * what turns this O(block²) at scale); the exact n-gram Jaccard then
    * verifies each candidate. Band geometry trades recall at the
    * threshold against candidate volume from background similarity —
    * 8 bands × 4 rows keeps pairs at background j≈0.1 to ~1e-3
    * collision probability; pick a shingle length n at which unrelated
    * docs actually look different (char-3 saturates on small
    * vocabularies; char-6 separates). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 6, threshold: Double = 0.6,
      k: Int = 32, bands: Int = 8): DataFrame = {
    // same threshold-domain validation as [[minHashPairs]]
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val rows = k / bands
    // same fused cache-free shape as minHashPairs, over char n-grams;
    // dsz fuels the exact in-explode length filter — the scale lever
    // for this kernel (saturated char-gram buckets explode candidates,
    // and each candidate pays an exact verify). Its exact-COMPLETENESS
    // audit is [[graft.ops.SetSimilarity.jaccardJoinExact]] over the
    // same char shingles (q225): lossless prefix filtering, so the
    // banding's recall is measured, not assumed — but at tau = 0.6 the
    // char-6 prefix is 40% of each doc's grams and the audit costs
    // ~57x this kernel at sf1 (tools/sf10_text_lane.sh), so banding +
    // length filter stays the production path at this threshold.
    val base = Fan.widen(
      docs.select(col(idCol).as("id"), col(textCol).as("txt")))
    val banded = base.select(col("id"),
      charNgramDistinctCount(col("txt"), n).as("dsz"),
      explode(lshBandKeys(charNgramMinHash(col("txt"), n, k), bands, rows)).as("bk"))
    sizeFilteredBucketPairs(banded,
      math.max(1L, math.round(threshold * 1000000L)))
      .join(base.select(col("id").as("a_id"), col("txt").as("a_txt")), "a_id")
      .join(base.select(col("id").as("b_id"), col("txt").as("b_txt")), "b_id")
      .withColumn("jaccard", charNgramJaccard(col("a_txt"), col("b_txt"), n))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over a near-dup pair list by iterative
    * min-label propagation with pointer jumping: each round every doc
    * adopts min(own label, neighbors' labels, label of its own label).
    * The pointer-jump step (label-of-label) halves the remaining chain
    * length each round, so convergence is O(log diameter) rounds — a
    * plain one-hop propagation would need O(diameter). Each round is
    * three hash joins + one aggregation, eagerly checkpointed (no
    * driver-side graph, no lineage blow-up). Returns (id, component)
    * where component = min id of the cluster.
    *
    * Throws if `maxIter` rounds pass without convergence — silently
    * returning partial components would merge/split dedup clusters
    * incorrectly downstream. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    // Each round's pin holds a full label set in the BlockManager; a
    // k-round run would hold k of them (round 1's cache leak, at
    // label-set scale), so each superseded round is released as soon as
    // the next is pinned, and the edge pin once the loop ends. The
    // returned labels are left to the ContextCleaner.
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      // NOT layout-aligned (deliberate, work-channel-measured): the
      // per-round neighbor-label join broadcasts the node-sized label
      // frame under AQE, so the edge side never re-exchanges anyway — a
      // dst-aligned pin added bytes and time at both SFs
      .pinned // materialize once; truncate upstream lineage
    var pinnedLabels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("component"))
      .pinned
    var labels = pinnedLabels
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nbr_component"))
      // carry the pre-round label as `prev` so convergence is a per-row
      // comparison on the checkpointed result — no extra join-on-id job
      // per round just to detect change
      val propagated = labels.join(neighborLabels, Seq("id"), "left")
        .select(col("id"), col("component").as("prev"),
          least(col("component"), coalesce(col("nbr_component"), col("component")))
            .as("component"))
      // pointer jump: follow my label to ITS label (components are always
      // ids that appear as edge endpoints, so the lookup always resolves)
      val next = propagated.as("l")
        .join(propagated.select(col("id").as("pid"), col("component").as("pcomp")),
          col("l.component") === col("pid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.component"), coalesce(col("pcomp"), col("l.component")))
            .as("component"),
          col("l.prev").as("prev"))
        .pinned
      val changed = next.filter(col("component") =!= col("prev")).limit(1).count()
      Pin.release(pinnedLabels) // previous round superseded
      pinnedLabels = next
      labels = next.select("id", "component") // reads the checkpoint, no recompute
      converged = changed == 0
      iter += 1
    }
    Pin.release(edges) // final labels checkpoint is self-contained
    if (!converged) {
      Pin.release(pinnedLabels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "raise maxIter (cluster diameter exceeds 2^maxIter after pointer jumping)")
    }
    labels
  }

  /** Embedding cosine near-dup pairs blocked by SRP-LSH bands — the
    * hyperplane alternative to [[embeddingNearDupsIvf]]: a `bits`-bit
    * signed-random-projection signature per vector (scale-invariant, no
    * centroids or index build), banded into `bands` chunks; candidates
    * share a chunk, the exact cosine verifies. High-cosine pairs agree
    * on almost every signature bit (P[bit differs] = angle/π), so they
    * collide in at least one band with near-certainty, while unrelated
    * vectors (~half the bits differ) rarely do. Same shuffle shape as
    * [[simHashPairs]], including its prefilter discipline (round 13):
    * a 64-bit disjoint-plane SRP signature rides the buckets and the
    * Hamming cap fires inside the explode stage, so only near-dup
    * SURVIVORS — not the O(bucket²) candidate set — reach the
    * candidate exchange and the vector-verify rejoin. */
  def embeddingNearDupsSrp(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.99, bits: Int = 16, bands: Int = 4,
      prefilterHamMax: Int = -1): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val hamMax =
      if (prefilterHamMax == -1) srpHamMax(threshold) else prefilterHamMax
    verifyCosinePairs(
      prefilteredBucketPairs(srpBanded(base, bits, bands), hamMax),
      base, threshold)
  }

  /** SRP band keys for a (id, v) frame — shared by the in-corpus and
    * cross-corpus SRP paths (same hyperplanes: srpSignature is
    * fixed-seed, so both sides of a cross pairing band identically).
    * Also computes the 64-bit prefilter signature (`psig`) in the same
    * projection — disjoint planes ([[PrefilterPlaneOffset]]), one pass
    * over the vector components alongside the bucketing signature. */
  private def srpBanded(base: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"bits ($bits) must divide evenly into bands ($bands)")
    val rowsPerBand = bits / bands
    // Long shifts wrap mod 64: a 64-bit band would make mask 0 and every
    // chunk collide — i.e. a silent full cross join
    require(rowsPerBand <= 63, s"bits/bands must be <= 63, got $rowsPerBand")
    val mask = (1L << rowsPerBand) - 1
    // widen: both SRP signatures are per-row fused kernels in the scan
    Fan.widen(base).select(col("id"), srpSignature(col("v"), bits).as("sig"),
        srpSignature(col("v"), 64, PrefilterPlaneOffset).as("psig"))
      .select(col("id"), col("psig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), b * rowsPerBand)
              .bitwiseAND(lit(mask)).as("chunk"))): _*)).as("bk"))
  }

  /** Cross-corpus SRP near-dup pairs: probe vectors against an existing
    * corpus — the embedding twin of [[minHashPairsBetween]]. Both sides
    * band on the SAME fixed-seed hyperplanes, single-member buckets
    * still pair with the OTHER side (minSize = 1), candidates carry ids
    * only, and the exact cosine verifies. Returns
    * (corpus_id, probe_id, cosine). */
  def srpPairsBetween(corpus: DataFrame, probe: DataFrame,
      idCol: String, vecCol: String, threshold: Double = 0.99,
      bits: Int = 16, bands: Int = 4, maxBucket: Int = 256): DataFrame = {
    val cBase = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val pBase = probe.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cBuckets = cappedBuckets(srpBanded(cBase, bits, bands),
      col("id"), maxBucket, minSize = 1).withColumnRenamed("vs", "cvs")
    val pBuckets = cappedBuckets(srpBanded(pBase, bits, bands),
      col("id"), maxBucket, minSize = 1).withColumnRenamed("vs", "pvs")
    val combos = flatten(transform(col("cvs"), x =>
      transform(col("pvs"), y =>
        struct(x.getField("id").as("a"), y.getField("id").as("b")))))
    cBuckets.join(pBuckets, "bk")
      .select(explode(combos).as("p"))
      .select(col("p.a").as("corpus_id"), col("p.b").as("probe_id"))
      .dropDuplicates("corpus_id", "probe_id")
      .join(cBase.select(col("id").as("corpus_id"), col("v").as("a_v")), "corpus_id")
      .join(pBase.select(col("id").as("probe_id"), col("v").as("b_v")), "probe_id")
      .withColumn("cosine", cosineSimilarity(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("corpus_id"), col("probe_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Keep only the `probe` vectors with NO near-duplicate embedding in
    * `corpus` — the incremental-ingest filter composed from
    * [[srpPairsBetween]] (anti-join beyond the pair list), the embedding
    * twin of [[dedupAgainstCorpus]]. */
  def embeddingDedupAgainstCorpus(corpus: DataFrame, probe: DataFrame,
      idCol: String, vecCol: String, threshold: Double = 0.99): DataFrame = {
    val dupes = srpPairsBetween(corpus, probe, idCol, vecCol, threshold)
      .select(col("probe_id").as(idCol)).distinct()
    probe.join(dupes, Seq(idCol), "left_anti")
  }

  /** EXACT all-unordered-pairs cosine truth — the audit-scale companion
    * of [[embeddingNearDupsSrp]]/[[embeddingNearDupsIvf]], the q191
    * pattern applied to the embedding side: every pair (a_id < b_id)
    * whose exact cosine reaches the threshold, by brute force (one side
    * broadcast through a nested-loop join, O(n²) verifies spread across
    * partitions). This is the TRUTH generator for banding/blocking
    * audits and small reference sets, not a production dedup path — at
    * corpus scale run the banded variants and score them against this
    * op on a bounded sample or reference slice. */
  def exactCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    // widen the STREAMED side: the O(n²) cosine verifies run where the
    // a-side scans, and a single-split corpus would put them on one core
    Fan.widen(base.select(col("id").as("a_id"), col("v").as("a_v")))
      .join(broadcast(base.select(col("id").as("b_id"), col("v").as("b_v"))),
        col("a_id") < col("b_id"))
      .withColumn("cosine", cosineSimilarity(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Shared verify tail of the embedding near-dup variants: rejoin the
    * candidate pair ids to their vectors, exact cosine, threshold, round. */
  private def verifyCosinePairs(candidates: DataFrame, base: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(base.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
      .join(base.select(col("id").as("b_id"), col("v").as("b_v")), "b_id")
      .withColumn("cosine", cosineSimilarity(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))

  /** Near-dup-aware (leakage-safe) train/test split for training
    * corpora: every near-duplicate CLUSTER lands wholly on one side, so
    * a test document can never leak into train as a near-copy of itself.
    * Clusters come from [[connectedComponents]] over the pair list;
    * singleton docs are their own cluster. The side is a deterministic
    * hash of the cluster representative (xxhash64 with a fixed seed), so
    * the assignment is reproducible across runs and engines and needs no
    * extra shuffle beyond the component join. Returns the docs plus
    * (component, split) with split ∈ train | test. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      testPct: Int = 10, seed: Int = 42): DataFrame = {
    require(testPct >= 0 && testPct <= 100, s"testPct out of range: $testPct")
    val comps = connectedComponents(pairs)
    docs.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("split",
        when(pmod(xxhash64(col("component"), lit(seed)), lit(100)) < testPct, "test")
          .otherwise("train"))
  }

  /** Apply a dedup decision: keep one representative per component (the
    * minimum id) and every doc not in any pair. */
  def applyDedup(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Quality-aware dedup apply: keep the HIGHEST-`scoreCol` member of
    * each near-dup cluster (ties broken by minimum id) instead of
    * [[applyDedup]]'s min-id representative — near-dup clusters in a web
    * corpus usually hold one clean original and N mangled mirrors, and
    * min-id keeps whichever was crawled first, not whichever is best.
    * Singleton docs pass through untouched. Scale shape: the cluster
    * frame joins back to the docs once, the per-cluster argmax is a
    * [[graft.functions.TopKAgg]]-style max_by (partial aggregation, no
    * window sort), and the final semi-join keeps winner rows. */
  def applyDedupBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: Column): DataFrame = {
    val comps = connectedComponents(pairs)
    val member = docs.select(col(idCol).as("id"), scoreCol.as("__score"))
      .join(comps, Seq("id"))
    // two partial-agg passes instead of max_by(id, struct(score, -id)):
    // negating the id for the tie-break only works for numeric ids (a
    // string id negates to null → nondeterministic keeper) and overflows
    // on Long.MinValue; max-score-then-min-id is type-agnostic
    val best = member.groupBy(col("component")).agg(max(col("__score")).as("__best"))
    val winners = member.join(best, Seq("component"))
      // null-safe: a component whose scores are ALL null still keeps
      // its min-id member instead of silently vanishing
      .filter(col("__score") <=> col("__best"))
      .groupBy(col("component")).agg(min(col("id")).as("keep_id"))
      .select(col("keep_id").as(idCol))
    val clustered = comps.select(col("id").as(idCol))
    docs.join(clustered, Seq(idCol), "left_anti") // singletons
      .unionByName(docs.join(winners, Seq(idCol), "left_semi"))
  }

  /** Incrementally merge NEW near-dup pairs into an EXISTING component
    * assignment — the maintenance op for a living dedup index: a daily
    * crawl adds pairs (from [[minHashPairsBetween]] against the corpus
    * plus the batch's self-pairs), and recomputing components from the
    * full pair history would reprocess the entire corpus every day.
    *
    * Key insight: an existing `(id, component)` assignment IS an edge
    * set that reproduces its own components (every member linked to its
    * representative, star-shaped, diameter 2) — so CC over
    * (assignment-as-edges ∪ new pairs) yields exactly the components of
    * (all historical pairs ∪ new pairs), without the historical pair
    * list. Work scales with |existing assignment| + |new pairs| rather
    * than |historical pairs|, and the star shape keeps the pointer-jump
    * round count at the floor. Self-edges (singleton rows with
    * component == id, as [[leakageSafeSplit]] materializes) are dropped
    * before the union — they would pass through CC as spurious
    * singleton work; a singleton that gains no new pair passes through
    * with its old assignment via one anti-join. Equivalence with the
    * full recompute is pinned in DedupComponentsSpec. Returns
    * (id, component), component = min id, covering every id in either
    * input. */
  def mergeComponents(existing: DataFrame, newPairs: DataFrame): DataFrame = {
    // materialize the assignment once: it feeds two consumers (the
    // edge set inside connectedComponents and the singleton anti-join
    // below), each of which would otherwise re-run its lineage. One
    // assignment-scale snapshot, released by the ContextCleaner when
    // the returned frame is no longer referenced.
    val snap = existing.pinned
    val assignmentEdges = snap
      .filter(col("id") =!= col("component"))
      .select(col("id").as("a_id"), col("component").as("b_id"))
    val merged = connectedComponents(assignmentEdges.unionByName(
      newPairs.select(col("a_id"), col("b_id"))))
    // every non-singleton existing id appears in the edge set and so in
    // `merged`; what's left to carry is singletons the batch didn't touch
    val untouched = snap.join(merged, Seq("id"), "left_anti")
    merged.unionByName(untouched.select(col("id"), col("component")))
  }

  /** Cluster-size distribution of a near-dup pair set — the
    * observability query a dedup run at 100 TB needs BEFORE its output
    * is trusted: the first symptom of a too-loose threshold (or a
    * boilerplate-dominated corpus) is a degenerate GIANT component
    * swallowing half the corpus, and the histogram is where it shows.
    * Returns one row per distinct component size:
    * (cluster_size, n_clusters), singletons included as size 1 — so
    * `max(cluster_size)` is the giant-component check and the size-1
    * row is the singleton count. Scale shape: connected components
    * (pointer jumping, O(log diameter) rounds) + two partial
    * aggregations; the docs frame contributes singletons via one
    * anti-join, never a shuffle of its payload. */
  def clusterSizeHistogram(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val clustered = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster_size"))
    val singletons = docs.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left_anti")
      .select(lit(1L).as("cluster_size"))
    clustered.unionByName(singletons)
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
  }

  /** Embedding cosine near-dup pairs blocked by IVF bucket — the scale
    * path, needing no label column. Every vector is assigned to its
    * `nProbe` highest-cosine centroids (multi-probe keeps near-boundary
    * neighbors in at least one shared bucket; cosine assignment is
    * scale-invariant, so v and c·v land in identical buckets). Bucket
    * assignment uses the bounded-heap [[graft.functions.TopKByScore]]
    * aggregate — partial aggregation collapses the corpus×centroids
    * scored rows map-side, so only nProbe rows per vector shuffle.
    * Candidates equi-join on bucket id, pass the 64-bit SRP Hamming
    * PREFILTER inside the explode stage ([[prefilteredBucketPairs]] —
    * round 13: candidate volume is O(n^1.5) and must not reach the
    * candidate exchange, let alone carry vectors), and the exact
    * cosine verifies each surviving pair (vectors re-joined by id,
    * never carried through the bucket explode; only survivors — a
    * whisker above the true near-dup set, [[srpHamMax]] — pay the
    * rejoin). Centroids start as the bounded
    * [[Similarity.ivfSeeds]] pick (≤ MaxIvfCells, default ⌈√n⌉ — the
    * geometry that keeps the broadcast and assignment pass scale-safe).
    * Candidate accounting under that geometry: bucket size ≈ n/C = √n,
    * so in-bucket pairs total O(n^1.5) — capped per bucket by
    * [[cappedBuckets]] — while assignment costs n·C = n^1.5 too; a
    * fixed BUCKET size would make candidates linear but assignment
    * quadratic (the round-11 trap). When candidate volume, not recall,
    * is the binding constraint, [[embeddingNearDupsSrp]]'s banding is
    * the linear-candidate scale path (q53/q218 audit both).
    * `kmeansIters` > 0 refines them with the same
    * honest Lloyd rounds ([[Similarity.refineCentroids]] — map-side
    * argmin assignment, only (cluster, dim, sum) rows shuffle). The plan
    * shape downstream is identical either way — refinement only moves
    * bucket boundaries, which matters when the corpus is clustered and a
    * stride pick would land several centroids in one dense region. */
  def embeddingNearDupsIvf(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.99, nCells: Int = 0,
      nProbe: Int = 2, kmeansIters: Int = 0,
      scanFraction: Double = 0.0, prefilterHamMax: Int = -1): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val hamMax =
      if (prefilterHamMax == -1) srpHamMax(threshold) else prefilterHamMax
    // the bounded-by-construction seed pick (id guard + derived stride +
    // collected ≤ Similarity.MaxIvfCells rows) — see its geometry note
    val (seeds, cells) = Similarity.ivfSeedsWithCells(base, "id", "v",
      nCells, "embeddingNearDupsIvf")
    // the recall/cost dial (Similarity.steeredProbes): f = 0 keeps the
    // fixed probe budget, f > 0 pins the scanned fraction
    val probes = Similarity.steeredProbes(nProbe, cells, scanFraction)
    val centroids =
      if (kmeansIters <= 0) seeds
      else Similarity.refineCentroids(base, seeds, "id", "v", kmeansIters)
    // the prefilter signature is computed ONCE per corpus row, before
    // the centroid cross join (it rides the scored rows as 8 bytes and
    // comes out of the assignment aggregate as a per-id constant).
    // widened: the n·C scoring pass must not serialize on a
    // single-split input (refineCentroids keeps the unwidened base)
    val assigned = Fan.widen(base)
      .withColumn("psig", srpSignature(col("v"), 64, PrefilterPlaneOffset))
      .join(broadcast(centroids))
      .withColumn("sim", round(cosineSimilarity(col("v"), col("cv")), 6))
      .groupBy(col("id"))
      .agg(topKByScore(col("sim"), col("centroid_id"), probes).as("bks"),
        max(col("psig")).as("psig"))
      .select(col("id"), col("psig"), explode(col("bks")).as("bk"))
      .select(col("id"), col("psig"), col("bk.id").as("bk"))
    verifyCosinePairs(prefilteredBucketPairs(assigned, hamMax), base, threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by embedding clustering. Vectors are IVF-bucketed
    * exactly like [[embeddingNearDupsIvf]]; candidate pairs above
    * `threshold` are grouped into duplicate clusters (connected
    * components), and within each cluster ONE member is kept — the one
    * LEAST similar to its own centroid (the paper's keep-low-similarity
    * rule: prototypical members near the centroid are the redundant
    * ones; the "edge" example carries the most marginal information).
    * Ties break to the smaller id. Returns every input id with
    * (component, centroid_sim, kept) — `kept = false` rows are the
    * semantic duplicates to drop.
    *
    * Scale shape: one corpus scan scores all C broadcast centroids per
    * vector; the bounded-heap top-nProbe bucket assignment and the
    * per-vector best-centroid similarity come out of the SAME partial
    * aggregate, so the corpus shuffles once for assignment (nProbe
    * rows/vector + one 8-byte sim). Pairing, verification and CC reuse
    * the audited kernels (capped buckets, pointer-jump CC); the keep
    * rule is two partial aggregations over component-scale rows. No
    * step materializes a per-cluster pairwise matrix — the paper's
    * within-cluster O(|c|²) cosine scan is exactly what the capped
    * bucket join + exact verify replaces at corpus scale. */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 0,
      nProbe: Int = 2, kmeansIters: Int = 0,
      scanFraction: Double = 0.0, prefilterHamMax: Int = -1): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val hamMax =
      if (prefilterHamMax == -1) srpHamMax(threshold) else prefilterHamMax
    // the bounded-by-construction seed pick; its loud zero-seed failure
    // also protects this kernel's every-id contract (an empty centroid
    // join would make EVERY input id vanish from the result)
    val (seeds, cells) = Similarity.ivfSeedsWithCells(base, "id", "v",
      nCells, "semDedup")
    val probes = Similarity.steeredProbes(nProbe, cells, scanFraction)
    val centroids =
      if (kmeansIters <= 0) seeds
      else Similarity.refineCentroids(base, seeds, "id", "v", kmeansIters)
    // Materialized once: the scoring aggregate below is consumed by three
    // branches (bucket explode → pairs, members join, singles anti-join);
    // without this the full corpus×centroids scan recomputes per branch.
    // Widened like embeddingNearDupsIvf's assignment pass.
    val assigned = Fan.widen(base)
      .withColumn("psig", srpSignature(col("v"), 64, PrefilterPlaneOffset))
      .join(broadcast(centroids))
      .withColumn("sim", round(cosineSimilarity(col("v"), col("cv")), 6))
      .groupBy(col("id"))
      .agg(topKByScore(col("sim"), col("centroid_id"), probes).as("bks"),
        max(col("sim")).as("centroid_sim"), max(col("psig")).as("psig"))
      .pinned
    val buckets = assigned
      .select(col("id"), col("psig"), explode(col("bks")).as("bk"))
      .select(col("id"), col("psig"), col("bk.id").as("bk"))
    val pairs = verifyCosinePairs(
      prefilteredBucketPairs(buckets, hamMax), base, threshold)
    val comps = connectedComponents(pairs)
    val members = comps.join(
      assigned.select(col("id"), col("centroid_sim")), Seq("id"))
    val keepers = members.groupBy(col("component"))
      .agg(min(struct(col("centroid_sim"), col("id"))).as("kp"))
      .select(col("component"), col("kp.id").as("keep_id"))
    val flagged = members.join(keepers, Seq("component"))
      .select(col("id"), col("component"), col("centroid_sim"),
        (col("id") === col("keep_id")).as("kept"))
    // ids in no pair are their own cluster and always kept
    val singles = assigned.select(col("id"), col("centroid_sim"))
      .join(comps, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"), col("centroid_sim"),
        lit(true).as("kept"))
    flagged.unionByName(singles)
  }
}
