package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinSyntax

/** EXACT Jaccard-threshold set-similarity self-join via prefix filtering
  * (the PPJoin family — Xiao et al., WWW 2008; public algorithm). The
  * MinHash/SimHash paths in [[Dedup]] are probabilistic; this is the
  * exact counterpart for token-set similarity: every emitted pair has
  * true Jaccard >= tau AND no qualifying pair is missed. The q170 DuckDB
  * brute-force oracle is the empirical losslessness proof at sf0.01.
  *
  * Scale shape (100 TB story):
  *  - one shuffle to distinct (id, token);
  *  - token frequencies via one aggregation — no global vocabulary sort
  *    or dense rank is materialized: the canonical token order is the
  *    (frequency asc, token asc) TUPLE, applied per-document by a window
  *    partitioned on the document id;
  *  - prefix filter: a document with s distinct tokens keeps only its
  *    first  s - ceil(tau*s) + 1  tokens in canonical order. Two sets
  *    with Jaccard >= tau MUST share a prefix token (pigeonhole on the
  *    (1-tau)*s tokens a match may miss), so the candidate equi-join on
  *    prefix tokens is lossless. Rare tokens sort first, so hub tokens
  *    almost never enter a prefix — the join cannot blow up on "the";
  *  - size-ratio pruning inside the candidate join: Jaccard >= tau
  *    implies tau * max(|A|,|B|) <= min(|A|,|B|);
  *  - the exact intersection count runs ONLY over surviving candidates:
  *    candidates fan out by the a-side token list and equi-join
  *    (b_id, token) against the token table — |candidates| * avg-set-size
  *    rows, never a token-keyed all-pairs explosion.
  *
  * All comparisons are integer (tau in micro-units); no floating point
  * anywhere, so results are partitioning- and platform-independent.
  */
object SetSimilarity {

  /** Exact Jaccard >= tauMicro/1e6 pairs over (idCol, tokenCol) rows
    * (rows need not be distinct — the op dedups). Returns
    * (a_id, b_id, inter, uni, jac_micro) with a_id < b_id.
    */
  def jaccardJoinExact(tokens: DataFrame, idCol: String, tokenCol: String,
      tauMicro: Long): DataFrame = {
    require(tauMicro > 0 && tauMicro <= 1000000L,
      s"tauMicro must be in (0, 1e6], got $tauMicro")
    // Token strings leave the pipeline immediately: every downstream
    // join/group keys on a 64-bit xxhash of the token, not the string —
    // narrow shuffles, long-keyed hash joins. A hash collision would
    // merge two tokens corpus-WIDE (slightly overcounting some
    // intersections); at 64 bits that needs ~10^9 distinct tokens to
    // become likely — swap in the 128-bit md5 pair beyond that.
    // Five consumers (sizes, freq, prefix build, both intersection
    // sides) — materialize the distinct frame once or the whole
    // tokenize+explode+distinct pipeline re-runs per consumer.
    val tok = tokens
      .select(col(idCol).cast("long").as("id"), col(tokenCol).as("token"))
      .where(col("token").isNotNull && length(col("token")) > 0)
      .select(col("id"), xxhash64(col("token")).as("token"))
      .distinct()
      .pinned

    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))

    // PROBE prefix length: sz - ceil(tau*sz) + 1, all-integer ceil.
    // INDEX prefix (round 16, the AllPairs/PPJoin probe/index
    // asymmetry): the size-ordered SMALLER side of a qualifying pair
    // needs only its first  sz - ceil(2tau/(1+tau)·sz) + 1  tokens —
    // for x the smaller and y the larger side, the required overlap
    // α = ceil(τ(sx+sy)/(1+τ)) is ≥ ceil(2τ/(1+τ)·sx) (sy ≥ sx) and
    // ≥ ceil(τ·sy) (sx ≥ τ·sy by the length filter), so the prefix
    // lemma's shared token sits within x's INDEX window and y's PROBE
    // window. At τ = 0.6 the index window is 25% of tokens vs the
    // probe's 40%, which cuts the candidate join's collision-row
    // generation ~2/5 with zero loss (the q225/q170 brute-force
    // oracles re-prove completeness empirically).
    val prefixLen = col("sz") -
      expr(s"(($tauMicro * sz + 999999) div 1000000)") + 1L
    val idxLen = col("sz") -
      expr(s"((${2 * tauMicro} * sz + ${1000000L + tauMicro} - 1)" +
        s" div ${1000000L + tauMicro})") + 1L
    val canonical = Window.partitionBy(col("id"))
      .orderBy(col("tf"), col("token"))
    // two consumers (candidate join x/y sides): don't sort twice; the
    // index window is a prefix of the probe window (2τ/(1+τ) ≥ τ), so
    // one frame with an `ix` mark serves both sides
    val prefixes = tok
      .join(freq, "token")
      .join(sizes, "id")
      .withColumn("pos", row_number().over(canonical))
      .where(col("pos") <= prefixLen)
      .select(col("id"), col("token"), col("sz"), col("pos"),
        (col("pos") <= idxLen).as("ix"))
      .pinned

    // x = the (sz, id)-lex smaller side, restricted to its index
    // prefix; y = the larger side over its probe prefix. Each unordered
    // pair is generated under exactly one orientation (strict lex
    // order), and a_id/b_id recover the id order at the end.
    val a = prefixes.where(col("ix")).select(col("id").as("x_id"),
      col("token"), col("sz").as("sx"), col("pos").as("px"))
    // the probe side STREAMS through the candidate join (the index side
    // broadcasts), so its partition count IS the dominant stage's
    // parallelism — the pinned frame materializes at the AQE-coalesced
    // window width (16 at sf0.1), leaving half the cores idle in the
    // query's heaviest stage (profiled 57-100 CPU-s). Widened BY id
    // (Fan.widenBy): a pair's collision rows all live in the probe
    // doc's partition, so the pair-keyed partial aggregation below
    // compresses in the map side — a round-robin widen scattered them
    // and grew the agg exchange 305 → 1154 MB. No-op at scale.
    val b = Fan.widenBy(prefixes, col("id"))
      .select(col("id").as("y_id"), col("token"),
        col("sz").as("sy"), col("pos").as("py"))
    // PPJoin's positional filter rides the candidate join: a pair's
    // overlap can't exceed 1 + min(remaining tokens after the match on
    // each side), and Jaccard >= tau needs overlap >= ceil(tau·(sx+sy)
    // / (1+tau)). For the pair's FIRST shared prefix token the bound is
    // tight-and-valid, so filtering per collision row then dedup loses
    // nothing (the first-occurrence row always survives).
    val alpha = expr(s"(($tauMicro * (sx + sy) + ${1000000L + tauMicro} - 1)" +
      s" div ${1000000L + tauMicro})")
    // The dedup exchange is a per-pair AGGREGATION, not a bare distinct
    // (round 16): the positional filter's pass condition
    // 1 + min(sx−px, sy−py) ≥ α is monotonically DECREASING along a
    // pair's shared-prefix-token sequence (canonical positions co-
    // increase on both sides), so the surviving collision rows are a
    // PREFIX of that sequence — which makes the per-pair statistics
    // (o_pp = surviving-row count, pxm/pym = max surviving positions)
    // yield the EXACT PPJoin accumulated bound
    //   inter ≤ o_pp + min(sx − pxm, sy − pym):
    // every shared token before the last survivor is itself a survivor
    // (prefix property), and shared tokens after it fit in the smaller
    // remaining tail. The bound is tighter than any single row's
    // (o_pp = 1 degenerates to the old per-row check), so the pruned
    // pair set only shrinks — losslessness is inherited, and the q225/
    // q170 brute-force oracles re-prove it empirically. Measured at
    // sf0.1 (q225 char-6, tau 0.6): 14.83M → ~2.9M verify pairs, the
    // verify join + merge-count being the query's CPU center.
    // sa/sb ride the aggregation (max = the constant itself) so the
    // post-aggregation gate needs no size re-join; the verify still
    // recovers sizes as size(toks) from the doc arrays it joins anyway.
    // The aggregation rides PACKED (size, position) columns — sz·2³² +
    // pos, both far under 2³¹ for any real document — so the exchange
    // carries 5 longs per partial row instead of 7 (sz is constant
    // within a pair, so max(pack) = sz·2³² + max(pos) exactly), and the
    // per-pair stats unpack after the final aggregation.
    // PINNED (re-measured, round 16): round 15 measured an eager pin
    // 1.6x worse — but that was the BARE-DISTINCT candidate stream
    // (14.8M rows at sf0.1) whose only post-exchange work was the
    // verify AQE could overlap. With the aggregate bound the frame is
    // 5x smaller (~2.9M rows) and, unpinned, AQE re-executed the whole
    // final-agg pipeline TWICE per run (two ~75-CPU-s stages reading
    // the same 340 MB exchange — profiled); the pin runs it once and
    // the verify tail reads a checkpoint.
    val candidates = Pin.pin(a.join(b, Seq("token"))
      .where((col("sx") < col("sy") ||
          (col("sx") === col("sy") && col("x_id") < col("y_id"))) &&
        lit(tauMicro) * col("sy") <= lit(1000000L) * col("sx") &&
        lit(1L) + least(col("sx") - col("px"), col("sy") - col("py")) >= alpha)
      .select(col("x_id"), col("y_id"),
        (col("sx") * 4294967296L + col("px")).as("__kx"),
        (col("sy") * 4294967296L + col("py")).as("__ky"))
      .groupBy(col("x_id"), col("y_id"))
      .agg(count(lit(1)).as("__opp"), max(col("__kx")).as("__kxm"),
        max(col("__ky")).as("__kym"))
      .select(col("x_id"), col("y_id"), col("__opp"),
        expr("__kxm div 4294967296").as("__sx"),
        (col("__kxm") % 4294967296L).as("__pxm"),
        expr("__kym div 4294967296").as("__sy"),
        (col("__kym") % 4294967296L).as("__pym"))
      .where(col("__opp") +
        least(col("__sx") - col("__pxm"), col("__sy") - col("__pym"))
          >= expr(
            s"((($tauMicro * (__sx + __sy) + ${1000000L + tauMicro} - 1)" +
              s" div ${1000000L + tauMicro}))"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id")))

    // Exact verification restricted to candidates, PPJoin-style: each
    // doc's token-hash ARRAY rides two id-keyed joins onto the
    // candidate pair and the intersection is computed IN-ROW — no
    // row-per-shared-token fanout through an exchange. Work is
    // |candidates| rows carrying two set-size arrays; for huge
    // documents (arrays too wide for a row) fall back to the
    // fanout-and-count join on (id, token). The arrays are SORTED once
    // per document so the per-candidate intersect is a primitive
    // merge-count (graft.functions.sortedLongIntersectCount) instead
    // of array_intersect's per-row hash set — at tau = 0.6 over
    // char-gram sets the prefix filter passes tens of millions of
    // candidates (22.8M at sf0.1 for q225), so this per-pair constant
    // IS the query's cost center.
    val docArrs = tok.groupBy(col("id"))
      .agg(sort_array(collect_list(col("token"))).as("toks"))
    val inter = candidates
      .join(docArrs.select(col("id").as("a_id"), col("toks").as("__ta")),
        Seq("a_id"))
      .join(docArrs.select(col("id").as("b_id"), col("toks").as("__tb")),
        Seq("b_id"))
      .withColumn("inter",
        graft.functions.sortedLongIntersectCount(col("__ta"), col("__tb")))

    // threshold spelled with ONE occurrence of `inter` (round 16):
    // inter·10⁶ ≥ τ·uni = τ·(sa+sb−inter)  ⟺  inter·(10⁶+τ) ≥ τ·(sa+sb)
    // — exact integer equivalence. Catalyst pushes this filter into the
    // verify join's condition with the `inter` projection INLINED, so
    // the two-occurrence spelling ran the sorted-merge count TWICE per
    // candidate (the plan's join condition showed both calls); the
    // single-occurrence form halves the verify stage's dominant kernel.
    inter
      .where(col("inter") * (1000000L + tauMicro) >=
        lit(tauMicro) * (size(col("__ta")) + size(col("__tb"))).cast("long"))
      .withColumn("uni",
        (size(col("__ta")) + size(col("__tb"))).cast("long") - col("inter"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        expr("(inter * 1000000 div uni)").as("jac_micro"))
  }

  /** EXACT containment join: pairs where C(A→B) = |A∩B| / |A| >= tau —
    * the ASYMMETRIC near-dup relation Jaccard misses (a paragraph
    * quoted inside a much larger document has high containment and
    * negligible Jaccard). Directed output: (a_id, b_id, inter, sa,
    * cont_micro) with a_id ≠ b_id, A the contained side.
    *
    * Losslessness: C >= tau means A misses at most (1−tau)·|A| of its
    * tokens in B, so of A's floor((1−tau)|A|)+1 rarest tokens (its
    * containment prefix) at least one is in B — candidates come from
    * prefix(A) ⋈ ALL tokens(B). The B side is deliberately
    * unrestricted (that is what makes small-in-big detectable); the
    * prefix side's tokens are globally rare, which is what keeps the
    * probe join hub-safe. Verification is the same in-row
    * array-intersect as [[jaccardJoinExact]]. The q211 brute-force
    * oracle is the empirical proof. */
  def containmentJoinExact(tokens: DataFrame, idCol: String, tokenCol: String,
      tauMicro: Long): DataFrame = {
    require(tauMicro > 0 && tauMicro <= 1000000L,
      s"tauMicro must be in (0, 1e6], got $tauMicro")
    val tok = tokens
      .select(col(idCol).cast("long").as("id"), col(tokenCol).as("token"))
      .where(col("token").isNotNull && length(col("token")) > 0)
      .select(col("id"), xxhash64(col("token")).as("token"))
      .distinct()
      .pinned
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    // containment prefix: floor((1-tau)*sz) + 1 rarest tokens
    val prefixLen =
      expr(s"((${1000000L - tauMicro} * sz) div 1000000)") + 1L
    val canonical = Window.partitionBy(col("id"))
      .orderBy(col("tf"), col("token"))
    val prefixes = tok
      .join(freq, "token")
      .join(sizes, "id")
      .withColumn("pos", row_number().over(canonical))
      .where(col("pos") <= prefixLen)
      .select(col("id"), col("token"), col("sz"))
    // bare-pair dedup exchange, same rationale as jaccardJoinExact:
    // sa is recovered as size(__ta) after the verify join. (A keyed
    // widen of the B side, which pays on the jaccard probe side, was
    // A/B-priced here: 1.01x wall, +2.8 MB — at tau = 0.9 the
    // containment prefix is tiny and the collision stage is not the
    // bottleneck, so the extra exchange buys nothing. Left alone.)
    val candidates = prefixes
      .select(col("id").as("a_id"), col("token"))
      .join(tok.select(col("id").as("b_id"), col("token")), Seq("token"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // same sorted-merge verify as jaccardJoinExact (see the note there)
    val docArrs = tok.groupBy(col("id"))
      .agg(sort_array(collect_list(col("token"))).as("toks"))
    candidates
      .join(docArrs.select(col("id").as("a_id"), col("toks").as("__ta")),
        Seq("a_id"))
      .join(docArrs.select(col("id").as("b_id"), col("toks").as("__tb")),
        Seq("b_id"))
      .withColumn("inter",
        graft.functions.sortedLongIntersectCount(col("__ta"), col("__tb")))
      .withColumn("sa", size(col("__ta")).cast("long"))
      .where(col("inter") * 1000000L >= lit(tauMicro) * col("sa"))
      .select(col("a_id"), col("b_id"), col("inter"), col("sa"),
        expr("(inter * 1000000 div sa)").as("cont_micro"))
  }

  /** Word n-gram (shingle) view of a text column: each set element is n
    * consecutive whitespace-separated words joined by one space — the
    * q170 oracle mirrors it with array_to_string(t[s:s+n-1], ' ').
    * Order-sensitive, so template corpora sharing a small vocabulary
    * still get discriminative sets (plain word sets do not). */
  def shingleTokens(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1 && n <= 16, s"shingle n must be in [1, 16], got $n")
    // widen: tokenize+shingle is the scan stage's compute — see Fan
    Fan.widen(df.select(col(idCol).as(idCol), col(textCol).as(textCol)))
      .select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("t"))
      // guard: sequence(1, 0) counts BACKWARDS in Spark, so short texts
      // must take the empty-array branch, not a degenerate sequence
      .select(col("id"), explode(expr(
        s"CASE WHEN size(t) >= $n THEN transform(sequence(1, size(t) - ${n - 1})," +
          s" i -> concat_ws(' ', slice(t, i, $n))) ELSE array() END")).as("token"))
  }
}
