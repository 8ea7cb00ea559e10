package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.ops.{Dedup, SetSimilarity}
import graft.ops.Pin.PinSyntax

/** Deduplication operators (north-star: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine). The corpus is the documents table
  * unioned with a deterministic near-duplicate of itself (one appended
  * token, shifted ids) so every variant has guaranteed positives to find.
  */
object DedupQueries {

  /** `docs` ∪ its near-duplicate twins (id + 2^40, text + " xq"), over
    * an already-projected frame holding `doc_id` and `text`, so each
    * query keeps its own column list.
    * The namespace offset is 1L<<40, not a decimal million: TPC-H base
    * keys pass 1e6 around sf7, and a colliding twin id silently corrupts
    * every pair list downstream. 2^40 holds to ~sf7,000,000. */
  private[queries] def withNearDups(docs: DataFrame): DataFrame =
    docs.unionByName(docs
      .withColumn("doc_id", col("doc_id") + 1099511627776L)
      .withColumn("text", concat(col("text"), lit(" xq"))))

  private def corpusWithNearDups(s: SparkSession, dir: String): DataFrame =
    withNearDups(
      t(s, dir, "documents").select(col("doc_id"), col("text"), col("source")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy, min-id keeper
    "q13_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1099511627776L))
      doubled.groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
        .orderBy(col("h"))
    }),

    // MinHash + LSH banding near-dup pairs
    "q15_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashPairs(corpusWithNearDups(s, dir), "doc_id", "text",
        k = 32, bands = 8, shingleLen = 3, threshold = 0.5)
        .pinned // output sort: the range sampler re-executes the verify
        .orderBy(col("a_id"), col("b_id"))
    }),

    // SimHash near-dup pairs (banded 16-bit chunks, Hamming verify)
    "q16_simhash" -> ((s, dir) => {
      Dedup.simHashPairs(corpusWithNearDups(s, dir), "doc_id", "text",
        maxHamming = 8)
        .pinned // output sort: see q15
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Character n-gram Jaccard pairs (LSH candidates + exact verify)
    "q17_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(corpusWithNearDups(s, dir), "doc_id", "text",
        n = 6, threshold = 0.6)
        .pinned // output sort: see q15
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Embedding-cosine near-dup pairs: corpus ∪ scaled copies (cosine of
    // v and 1.5v is exactly 1), blocked by multi-probe IVF bucket — the
    // scale path; no label column needed (cosine bucket assignment is
    // scale-invariant, so each scaled twin shares its original's buckets)
    "q18_embedding_neardup" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val scaled = vecs.withColumn("vec_id", col("vec_id") + 1099511627776L)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.5f)))
      Dedup.embeddingNearDupsIvf(vecs.unionByName(scaled), "vec_id", "embedding",
        threshold = 0.999, nProbe = 2)
        .pinned // output sort: see q15
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Incremental ingest dedup: a new batch (even-id docs, one appended
    // token, shifted ids) checked against the existing corpus WITHOUT
    // self-joining either side — each side scanned once, candidates from
    // the cross band-key join of capped buckets
    "q67_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1099511627776L)
        .withColumn("text", concat(col("text"), lit(" xq")))
      Dedup.minHashPairsBetween(docs, batch, "doc_id", "text", threshold = 0.5)
        .pinned // output sort: see q15
        .orderBy(col("corpus_id"), col("probe_id"))
    }),

    // Embedding near-dup via SRP-LSH hyperplane banding — the index-free
    // alternative to q18's IVF blocking (signatures are scale-invariant,
    // so each scaled twin shares every band with its original).
    // Geometry: 32 bits / 4 bands = 8-bit chunks → 256 buckets per band;
    // 4-bit chunks (16 buckets) left ~6% of the corpus in every bucket,
    // and candidate volume — not the signature kernel — is what the
    // verify stage pays for
    "q53_embedding_srp" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val scaled = vecs.withColumn("vec_id", col("vec_id") + 1099511627776L)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.5f)))
      Dedup.embeddingNearDupsSrp(vecs.unionByName(scaled), "vec_id", "embedding",
        threshold = 0.999, bits = 32, bands = 4)
        .pinned // output sort: see q15
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Exact shared-window overlap (window-granular substring dedup):
    // EXACT where q15 is probabilistic — catches partial containment
    // (doc B embeds paragraphs of doc A) below whole-doc thresholds.
    // Oracle-checkable precisely because it is exact: the SQL twin
    // self-joins the distinct word-10-grams
    "q74_shared_windows" -> ((s, dir) => {
      Dedup.sharedWindowPairs(corpusWithNearDups(s, dir), "doc_id", "text",
        window = 10, minShared = 2)
        .pinned // output sort: see q15
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Quality-aware dedup apply: each near-dup cluster keeps its
    // HIGHEST-quality member (min-id only as tie-break) — the canonical-
    // selection policy a web corpus wants (crawl order ≠ cleanliness).
    // The appended-token twins score differently than their originals,
    // so the choice is exercised, not vacuous
    "q75_dedup_best" -> ((s, dir) => {
      val docs = corpusWithNearDups(s, dir)
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.5)
      Dedup.applyDedupBest(docs, "doc_id", pairs,
        graft.functions.qualityScore(col("text")))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup (semantic dedup): IVF-bucketed cosine clusters, keep the
    // member least similar to its own centroid. The scaled twins are
    // cosine-identical to their originals (sim 1.0 to the same
    // centroid), so every pair cluster exercises the min-id tie-break,
    // while singletons pass through kept — both paths exercised
    // EXACT Jaccard >= 0.6 set-similarity self-join via prefix filtering
    // (PPJoin family) over word-3-gram shingle sets — the exact
    // counterpart to q15/q17's probabilistic LSH paths. Oracle-exact:
    // the DuckDB twin brute-forces ALL shingle-sharing pairs, so a hash
    // match proves the prefix filter lost nothing
    "q170_setsim_exact" -> ((s, dir) => {
      val tokens = SetSimilarity.shingleTokens(
        corpusWithNearDups(s, dir), "doc_id", "text", n = 3)
      // pinned before the deterministic output sort (round 16): a
      // global orderBy range-partitions, and the range sampler executes
      // the ENTIRE pre-exchange stage a second time — here that stage
      // is the PPJoin verify (the two token-array joins + merge-count,
      // the query's dominant kernel, profiled at ~70 CPU-s at sf0.1 in
      // q225). The pin materializes the small true-pair set once; both
      // the sampler and the shuffle map then read checkpoint blocks.
      SetSimilarity.jaccardJoinExact(tokens, "id", "token", tauMicro = 600000L)
        .pinned
        .orderBy(col("a_id"), col("b_id"))
    }),

    // EXACT char-6-gram Jaccard >= 0.6 via the same prefix-filtered
    // join — q17's exact-COMPLETENESS AUDIT (round 14): identical
    // normalization + shingle set to q17's verify (charShingles:
    // lowercase, trim, collapse whitespace), but candidates come from
    // the LOSSLESS PPJoin prefix filter instead of LSH banding, so the
    // output is the full true pair set and q17's banding recall
    // becomes a measured fact (1.0 on this corpus at both graded SFs).
    // Honest scale note (tools/sf10_text_lane.sh): at tau = 0.6 over
    // ~290-gram char-6 sets the prefix is 40% of every doc's grams, so
    // the prefix join priced 570 s at sf1 vs q17's 10 s — the prefix
    // discipline pays at dedup-grade thresholds (q170's word-3 sets:
    // 2.6x/decade) and as this audit; the SCALE path at char-6/tau-0.6
    // is q17's banding + the in-explode length filter. Oracle-exact at
    // sf0.01 (DuckDB brute-force twin).
    "q225_setsim_char_exact" -> ((s, dir) => {
      // widened pre-explode: char-6 shingling of every doc is the scan
      // stage's compute (see Fan) — the union reads two 1-split scans
      val tokens = graft.ops.Fan.widen(corpusWithNearDups(s, dir))
        .select(col("doc_id").as("id"),
          explode(graft.functions.charShingles(col("text"), 6)).as("token"))
      // pinned before the output sort — same range-sampler
      // double-execution note as q170
      SetSimilarity.jaccardJoinExact(tokens, "id", "token", tauMicro = 600000L)
        .pinned
        .orderBy(col("a_id"), col("b_id"))
    }),

    // LSH self-audit: q15's MinHash pair list scored against q170's
    // EXACT Jaccard truth on the same corpus — precision/recall of the
    // banding config, the gauge that says whether 32×8 bands are
    // actually catching the near-dups the exact join proves exist
    // (thresholds differ by design: LSH candidates at 0.5 vs exact
    // truth at 0.6 word-3-gram Jaccard). Deterministic both sides —
    // golden-pinned at both SFs
    "q191_lsh_eval" -> ((s, dir) => {
      val corpus = corpusWithNearDups(s, dir)
      // the two arms are independent — build and pin them CONCURRENTLY
      // (Par.pinBoth, guide §2.6): sequentially the LSH arm's jobs
      // idled behind the truth arm's straggler tail
      val (truth, lsh) = graft.ops.Par.pinBoth(
        SetSimilarity.jaccardJoinExact(
          SetSimilarity.shingleTokens(corpus, "doc_id", "text", n = 3),
          "id", "token", tauMicro = 600000L)
          .select(col("a_id"), col("b_id")),
        Dedup.minHashPairs(corpus, "doc_id", "text",
          k = 32, bands = 8, shingleLen = 3, threshold = 0.5)
          .select(col("a_id"), col("b_id")))
      Audit.score(truth, lsh)
        .withColumnRenamed("n_found", "n_lsh")
        .orderBy(col("n_truth"))
    }),

    // EXACT containment join: fragments (each doc's first 15 words)
    // planted into the corpus are found inside their originals at
    // C(A→B) >= 0.9 — the asymmetric quote-inclusion relation Jaccard
    // misses entirely; brute-force oracle proves the containment
    // prefix filter lossless
    "q211_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val frags = docs
        .withColumn("doc_id", col("doc_id") + 2199023255552L)
        .withColumn("text",
          expr("concat_ws(' ', slice(split(trim(text), '\\\\s+'), 1, 15))"))
      val tokens = SetSimilarity.shingleTokens(
        docs.unionByName(frags), "doc_id", "text", n = 3)
      // pinned before the output sort — same range-sampler
      // double-execution note as q170
      SetSimilarity.containmentJoinExact(tokens, "id", "token",
        tauMicro = 900000L)
        .pinned
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Dedup yield curve: exact near-dup pair counts as a function of
    // the Jaccard threshold (0.5→0.95 bands over q170's exact join at
    // τ=0.5) — the knob-tuning gauge for "how much do we lose at τ";
    // cumulative from the top so each row IS the pair count at that cut
    "q199_dedup_curve" -> ((s, dir) => {
      val pairs = SetSimilarity.jaccardJoinExact(
        SetSimilarity.shingleTokens(corpusWithNearDups(s, dir),
          "doc_id", "text", n = 3),
        "id", "token", tauMicro = 500000L)
      val bands = pairs
        .withColumn("band", least(expr("(jac_micro div 50000) * 50000"),
          lit(950000L)))
        .groupBy(col("band")).agg(count(lit(1)).as("n_band"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("band").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      bands
        .withColumn("n_pairs_at_tau", sum(col("n_band")).over(w))
        .select(col("band").as("tau_micro"), col("n_band"),
          col("n_pairs_at_tau"))
        .orderBy(col("tau_micro"))
    }),

    // Embedding-blocking self-audit — q191's discipline applied to the
    // vector side: the SRP-banded (q53) and IVF-blocked (q18) near-dup
    // pair lists are each scored against the EXACT brute-force cosine
    // truth (Dedup.exactCosinePairs) on the same twin corpus.
    // Precision/recall per method, golden-pinned at both SFs — the
    // gauge that says whether 32×4 hyperplane bands and stride-50
    // 2-probe IVF actually catch what exact cosine proves is there
    "q218_embedding_eval" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val scaled = vecs.withColumn("vec_id", col("vec_id") + 1099511627776L)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.5f)))
      val corpus = vecs.unionByName(scaled)
        .select(col("vec_id"), col("embedding"))
        .pinned // three consumers: truth + two candidate stacks
      // three independent arms (exact truth, IVF candidates, SRP
      // candidates) — built and pinned CONCURRENTLY (Par.pinAll, guide
      // §2.6); sequentially each arm idled behind the previous one's
      // straggler tail
      val Seq(truth, ivfFound, srpFound) = graft.ops.Par.pinAll(
        () => Dedup.exactCosinePairs(corpus, "vec_id", "embedding",
          threshold = 0.999).select(col("a_id"), col("b_id")),
        () => Dedup.embeddingNearDupsIvf(corpus, "vec_id", "embedding",
          threshold = 0.999, nProbe = 2).select(col("a_id"), col("b_id")),
        () => Dedup.embeddingNearDupsSrp(corpus, "vec_id", "embedding",
          threshold = 0.999, bits = 32, bands = 4)
          .select(col("a_id"), col("b_id")))
      Audit.score("ivf", truth, ivfFound)
        .unionByName(Audit.score("srp", truth, srpFound))
        .orderBy(col("method"))
    }),

    "q100_semdedup" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val scaled = vecs.withColumn("vec_id", col("vec_id") + 1099511627776L)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.5f)))
      Dedup.semDedup(vecs.unionByName(scaled), "vec_id", "embedding",
        threshold = 0.999, nProbe = 2)
        .orderBy(col("id"))
    })
  )

  val oracle: Map[String, String] = Map(
    // DIRECTED brute force: every token-sharing ordered pair's exact
    // intersection over |A| — a hash match proves no contained set
    // escaped the prefix probe
    "q211_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+')[1:15],
        |      ' ')
        |  FROM documents),
        |tok AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[s:s+2], ' ') AS token
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM corpus),
        |       unnest(generate_series(1, len(t) - 2)) AS u(s)),
        |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter, CAST(sa.s AS BIGINT) AS sa,
        |  CAST(inter * 1000000 // sa.s AS BIGINT) AS cont_micro
        |FROM i JOIN sz sa ON i.a_id = sa.doc_id
        |WHERE inter * 1000000 >= 900000 * sa.s
        |ORDER BY a_id, b_id""".stripMargin,

    // the q170 brute force re-thresholded at 0.5 then banded — the
    // curve itself is hash-compared, band by band
    "q199_dedup_curve" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text || ' xq' FROM documents),
        |tok AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[s:s+2], ' ') AS token
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM corpus),
        |       unnest(generate_series(1, len(t) - 2)) AS u(s)),
        |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT CAST(inter * 1000000 // (sa.s + sb.s - inter) AS BIGINT)
        |    AS jac_micro
        |  FROM i JOIN sz sa ON i.a_id = sa.doc_id
        |         JOIN sz sb ON i.b_id = sb.doc_id
        |  WHERE inter * 1000000 >= 500000 * (sa.s + sb.s - inter)),
        |b AS (SELECT least((jac_micro // 50000) * 50000, 950000) AS band,
        |    CAST(count(*) AS BIGINT) AS n_band
        |  FROM p GROUP BY 1)
        |SELECT band AS tau_micro, n_band,
        |  CAST(sum(n_band) OVER (ORDER BY band DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pairs_at_tau
        |FROM b ORDER BY tau_micro""".stripMargin,
    // Brute force: every token-sharing pair's exact intersection — no
    // prefix filter — then the same integer-micro Jaccard gate. Matching
    // hashes = empirical losslessness proof for the prefix filter.
    "q170_setsim_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text || ' xq' FROM documents),
        |tok AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[s:s+2], ' ') AS token
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM corpus),
        |       unnest(generate_series(1, len(t) - 2)) AS u(s)),
        |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter,
        |  CAST(sa.s + sb.s - inter AS BIGINT) AS uni,
        |  CAST(inter * 1000000 // (sa.s + sb.s - inter) AS BIGINT) AS jac_micro
        |FROM i JOIN sz sa ON i.a_id = sa.doc_id
        |       JOIN sz sb ON i.b_id = sb.doc_id
        |WHERE inter * 1000000 >= 600000 * (sa.s + sb.s - inter)
        |ORDER BY a_id, b_id""".stripMargin,
    // char-6 twin of the q170 brute force: same corpus, charShingles
    // normalization mirrored (lower → trim → collapse inner runs; docs
    // <= 6 chars collapse to one whole-text shingle — the len boundary
    // agrees with Spark's because a 6-char doc has exactly one window)
    "q225_setsim_char_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text || ' xq' FROM documents),
        |norm AS (
        |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
        |  FROM corpus),
        |tok AS (
        |  SELECT DISTINCT doc_id, substr(t, s, 6) AS token
        |  FROM norm, unnest(generate_series(1, len(t) - 5)) AS u(s)
        |  WHERE len(t) > 6
        |  UNION
        |  -- AND len(t) > 0 mirrors SetSimilarity's empty-token filter:
        |  -- without it two empty/whitespace-only docs would pair at
        |  -- j=1.0 in the oracle only (round-14 ADVICE #1)
        |  SELECT DISTINCT doc_id, t AS token FROM norm
        |  WHERE len(t) <= 6 AND len(t) > 0),
        |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter,
        |  CAST(sa.s + sb.s - inter AS BIGINT) AS uni,
        |  CAST(inter * 1000000 // (sa.s + sb.s - inter) AS BIGINT) AS jac_micro
        |FROM i JOIN sz sa ON i.a_id = sa.doc_id
        |       JOIN sz sb ON i.b_id = sb.doc_id
        |WHERE inter * 1000000 >= 600000 * (sa.s + sb.s - inter)
        |ORDER BY a_id, b_id""".stripMargin,
    "q13_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q74_shared_windows" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text || ' xq' FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[s:s+9], ' ') AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM corpus),
        |       unnest(generate_series(1, len(t) - 9)) AS u(s))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin
  )
}
