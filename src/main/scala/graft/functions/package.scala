package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampType}

/** Scalar function library of the engine.
  *
  * Each function is a pure `Column => Column` combinator built from Spark
  * built-ins (so it stays inside whole-stage codegen), or a thin wrapper
  * over one of the custom Catalyst expressions in this package
  * ([[Uuid5]], [[Unaccent]], …). Reference semantics are cited per
  * function (reference: Rkuro/repcheck-data-integration @ /root/reference).
  */
package object functions {

  private[graft] def col2expr(c: Column): Expression = ColumnBridge.expression(c)
  private[graft] def expr2col(e: Expression): Column = ColumnBridge.column(e)

  // ---------------------------------------------------------------------
  // Custom Catalyst expressions
  // ---------------------------------------------------------------------

  /** RFC-4122 v5 (SHA-1) UUID over NAMESPACE_OID — bit-exact analog of
    * Python `uuid.uuid5(uuid.NAMESPACE_OID, name)`
    * (reference: scripts/bills/bills_federal.py:27-36). */
  def uuid5(c: Column): Column = expr2col(Uuid5(col2expr(c)))

  /** NFD-decompose + strip combining marks
    * (reference: scripts/bills/vote_matching.py:88-92). */
  def unaccent(c: Column): Column = expr2col(Unaccent(col2expr(c)))

  /** Unicode NFC canonicalization (composed form) — run before exact
    * dedup / line hashing / gram computation on web text. */
  def normalizeNfc(c: Column): Column = expr2col(NormalizeUnicode(col2expr(c), "NFC"))

  /** Unicode NFKC compatibility folding (ligatures, full-width forms). */
  def normalizeNfkc(c: Column): Column = expr2col(NormalizeUnicode(col2expr(c), "NFKC"))

  /** Deflate compressed/raw byte ratio — information-theoretic quality
    * signal (low = repetitive boilerplate, ~1 = high-entropy noise). */
  def compressionRatio(c: Column): Column = expr2col(CompressionRatio(col2expr(c)))

  /** Character-level Shannon entropy in nano-nats (one-pass codegen
    * kernel; oracle-exact per-distinct-char nano rounding). */
  def charEntropyNanos(c: Column): Column = expr2col(CharEntropy(col2expr(c)))

  // ---------------------------------------------------------------------
  // String / id functions (SURVEY §2.7)
  // ---------------------------------------------------------------------

  /** F1/F2: keep digits only ("119th Congress" -> "119")
    * (reference: scripts/bills/bills_federal.py:21-22). */
  def digitsOnly(c: Column): Column = regexp_replace(c, "[^0-9]", "")

  /** F3: state abbrev from an OCD area id, uppercased
    * (reference: scripts/bills/vote_matching.py:23-35). */
  def stateFromAreaId(c: Column): Column =
    upper(regexp_extract(c, "(?:state|district):([a-z]{2})(?:/|$)", 1))

  /** F4: state from "Baldwin (D-WI)"-style voter names
    * (reference: scripts/bills/vote_matching.py:38-47). */
  def stateFromName(c: Column): Column =
    regexp_extract(c, "(.+) \\(.?-?([A-Z]{2})\\)", 2)

  /** F5: strip any "(...)" suffix, trim, de-accent
    * (reference: scripts/bills/vote_matching.py:95-103). */
  def standardizeName(c: Column): Column =
    unaccent(trim(regexp_replace(c, "\\(.*?\\)", "")))

  /** F10: jurisdiction-id -> division-id
    * (reference: scripts/utils.py:3-6). */
  def convertAreaId(c: Column): Column =
    regexp_replace(regexp_replace(c, "jurisdiction", "division"), "/government", "")

  /** F11: at-large override + leading-zero strip (alpha-safe: "0A" -> "A",
    * "00" -> "") (reference: scripts/census/census_utils.py:2-15). */
  val AtLargeStates: Seq[String] = Seq("AK", "DC", "DE", "ND", "SD", "VT", "WY")
  def districtNumber(stateAbbrev: Column, district: Column): Column =
    when(stateAbbrev.isin(AtLargeStates: _*), lit("at-large"))
      .otherwise(regexp_replace(district, "^0+", ""))

  /** F17: "AL" -> "at-large" (reference: scripts/people/people_federal.py:66-69). */
  def atLargeAlias(c: Column): Column = when(c === "AL", "at-large").otherwise(c)

  /** F9: OCD division id for a federal congressional district, with the DC
    * branch (reference: scripts/census/federal_house_districts.py:87-91). */
  def ocdCongressionalDistrict(stateAbbrev: Column, district: Column): Column = {
    val s = lower(stateAbbrev)
    when(s === "dc", concat(lit("ocd-division/country:us/district:dc/cd:"), lower(district)))
      .otherwise(concat(lit("ocd-division/country:us/state:"), s, lit("/cd:"), lower(district)))
  }

  /** F9 variant: state-legislative ids incl. DC wards
    * (reference: scripts/census/state_senate_districts.py:83-86). */
  def ocdStateLegDistrict(stateAbbrev: Column, chamberTag: Column, district: Column): Column = {
    val s = lower(stateAbbrev)
    when(s === "dc", concat(lit("ocd-division/country:us/district:dc/ward:"), lower(district)))
      .otherwise(concat(lit("ocd-division/country:us/state:"), s, lit("/"), chamberTag,
        lit(":"), lower(district)))
  }

  /** F9 variant: zipcode areas (reference: scripts/census/zip_codes.py:64). */
  def ocdZipcode(zip: Column): Column =
    concat(lit("ocd-division/country:us/zipcode:"), zip)

  /** F8: deterministic bill / vote-event ids
    * (reference: scripts/bills/bills_federal.py:27-36, bills_state.py:22-32). */
  def billId(identifier: Column, jurisdictionId: Column): Column =
    concat(lit("ocd-bill/"), uuid5(concat(identifier, lit("_"), jurisdictionId)))
  def voteEventId(identifier: Column): Column =
    concat(lit("ocd-vote-event/"), uuid5(identifier))

  /** F12: multi-format date parse: ISO datetime w/ offset, else bare date;
    * unparseable -> null (caller decides whether to raise)
    * (reference: scripts/bills/bills_state.py:35-51). */
  def parseFlexibleTimestamp(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd")))

  /** F12 strict form, matching the reference's raise-on-unparseable
    * contract exactly (scripts/bills/bills_state.py:35-51): null/empty
    * input → null (`if not date_str: return None`), any other
    * unparseable string raises — a malformed scraped date must be a loud
    * failure, not a silent null action date. */
  def parseFlexibleTimestampStrict(c: Column): Column = {
    val parsed = parseFlexibleTimestamp(c)
    when(c.isNull || c === "", lit(null).cast(TimestampType))
      .when(parsed.isNotNull, parsed)
      .otherwise(raise_error(
        concat(lit("Could not parse date '"), c, lit("'"))).cast(TimestampType))
  }

  /** F14: pseudo-JSON "~{…}" columns: drop the sentinel char, parse with the
    * given schema; malformed -> null (reference: scripts/bills/vote_matching.py:14-20). */
  def parsePseudoJson(c: Column, schema: DataType): Column =
    from_json(substring(c, 2, Int.MaxValue), schema, Map("mode" -> "PERMISSIVE"))

  // ---------------------------------------------------------------------
  // Fuzzy similarity (SURVEY §2.7 F7) — thefuzz-compatible scorers
  // ---------------------------------------------------------------------

  /** Indel ratio 0-100 like `fuzz.ratio` (Levenshtein with substitution
    * cost 2, i.e. 100 * 2*M/(len_a+len_b)). */
  def fuzzRatio(a: Column, b: Column): Column =
    expr2col(FuzzRatio(col2expr(a), col2expr(b)))

  /** `fuzz.token_sort_ratio`: lowercase, strip non-alphanumerics, sort
    * tokens, then indel ratio. */
  def tokenSortRatio(a: Column, b: Column): Column =
    fuzzRatio(sortedTokens(a), sortedTokens(b))

  private def sortedTokens(c: Column): Column =
    array_join(array_sort(filter(
      split(lower(regexp_replace(c, "[^\\p{L}\\p{N}]+", " ")), " "),
      t => length(t) > 0)), " ")

  /** `fuzz.partial_ratio`: best-window indel ratio of the shorter string
    * slid over the longer. */
  def partialRatio(a: Column, b: Column): Column =
    expr2col(PartialRatio(col2expr(a), col2expr(b)))

  /** `fuzz.WRatio`, the `process.extractOne` default scorer the reference
    * matches voters with (reference: scripts/bills/vote_matching.py:161).
    * Single fused codegen'd kernel — see [[WRatio]] for the algorithm
    * (rapidfuzz branches incl. the partial_token_sort/partial_token_set
    * scorers on length-mismatched pairs). */
  def wRatio(a: Column, b: Column): Column =
    expr2col(WRatioScore(col2expr(a), col2expr(b)))

  /** Strip HTML tags, decode the five predefined entities (&amp; last so
    * double-encoded text decodes one level, the standard order), collapse
    * whitespace — the pre-tokenization cleanup for web-scraped training
    * text. Pure builtin composition, so it stays inside whole-stage
    * codegen AND has an exact DuckDB oracle twin. */
  def htmlStrip(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, ch)) => regexp_replace(acc, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Redact the common PII shapes from training text: emails, then
    * SSN-style ddd-dd-dddd, then phone-style ddd-ddd-dddd (emails first —
    * they may contain digits/hyphens; SSN and phone shapes are disjoint).
    * Patterns avoid lookarounds/backrefs so Java regex (Spark) and RE2
    * (DuckDB oracle) agree. */
  def piiScrub(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    val ssn = regexp_replace(email, "\\d{3}-\\d{2}-\\d{4}", "[SSN]")
    regexp_replace(ssn, "\\d{3}-\\d{3}-\\d{4}", "[PHONE]")
  }

  // ---------------------------------------------------------------------
  // Text analysis (north-star ops)
  // ---------------------------------------------------------------------

  /** Whitespace token count; empty/blank -> 0. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish subword count estimate: word-boundary regex pieces. */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Quality score in [0,1]: penalizes extreme length, high punctuation
    * density, low alpha ratio, and token repetition. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}]", "")).cast("double")
    val toks = tokenCount(text).cast("double")
    val uniq = size(array_distinct(split(lower(trim(text)), "\\s+"))).cast("double")
    val lenScore = least(len / 200.0, lit(1.0))
    val alphaRatio = when(len > 0, alpha / len).otherwise(lit(0.0))
    val punctPenalty = when(len > 0, punct / len).otherwise(lit(0.0))
    val dedupRatio = when(toks > 0, uniq / toks).otherwise(lit(0.0))
    val q = greatest(lit(0.0), least(lit(1.0),
      lenScore * 0.25 + alphaRatio * 0.35 + dedupRatio * 0.3 + (lit(1.0) - punctPenalty) * 0.1))
    // explicit floor(x*1e6 + 0.5)/1e6 instead of round(): the score is a
    // small-denominator rational that can land EXACTLY on a .5e-6
    // boundary, where Spark's BigDecimal HALF_UP and DuckDB's
    // multiply-std::round-divide disagree; spelling the same double ops
    // on both sides makes the result bit-identical
    floor(q * 1000000.0 + 0.5) / 1000000.0
  }

  /** Language-ID heuristic: stopword-hit ratio per language over a fixed
    * marker vocabulary; ties broken by language code. Returns the argmax
    * language code, "und" when nothing matches. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "dans", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "mit", "ein", "zu"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "他", "这", "不"))

  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val total = greatest(size(toks), lit(1)).cast("double")
    // struct(score, negated-lang? ) — argmax via array_max over (score, lang)
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val hits = size(filter(toks, t => t.isin(markers: _*))).cast("double")
      struct((hits / total).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct compares score first, then lang lexicographically —
    // deterministic tie-break. Require a minimum hit ratio to claim a language.
    val best = array_max(array(scored: _*))
    when(best.getField("score") >= 0.05, best.getField("lang")).otherwise(lit("und"))
  }

  /** F18: PDF-extracted-text cleanup — drop form feeds and newlines,
    * de-accent, strip remaining non-ASCII
    * (reference: scripts/ai/summarize_bills_federal.py:67-82). */
  def pdfTextCleanup(c: Column): Column =
    regexp_replace(unaccent(regexp_replace(c, "[\\x0c\\n\\r]+", " ")), "[^\\x00-\\x7F]", "")

  /** Rolling-hash document fingerprint (polynomial Karp-Rabin over UTF-8
    * bytes), as a custom codegen'd expression. */
  def fingerprint(c: Column): Column = expr2col(RollingHash(col2expr(c)))

  /** Distinct character n-gram shingles of a normalized document
    * (one-pass codegen'd expression — see [[TextShingles]]). */
  def charShingles(text: Column, n: Int): Column =
    expr2col(CharShingles(col2expr(text), n))

  /** Distinct word n-gram shingles (one-pass codegen'd expression). */
  def wordShingles(text: Column, n: Int): Column =
    expr2col(WordShingles(col2expr(text), n))

  /** Fused text → k-minhash signature over rolling char n-gram hashes:
    * no shingle materialization, one multiply-add per (window, perm) —
    * the 100 TB-rate dedup kernel (see [[NgramHash]]). */
  def charNgramMinHash(text: Column, n: Int, k: Int): Column =
    expr2col(NgramMinHash(col2expr(text), n, k, word = false))

  /** Fused word-n-gram variant of [[charNgramMinHash]]. */
  def wordNgramMinHash(text: Column, n: Int, k: Int): Column =
    expr2col(NgramMinHash(col2expr(text), n, k, word = true))

  /** STRICT fused word-n-gram rolling hashes (empty for docs shorter
    * than n tokens): the [[graft.ops.Corpus.wordNgrams]] window SET as
    * 8-byte keys with zero gram-string allocation — for exact set
    * arithmetic keyed by gram ([[graft.ops.Corpus.sourceOverlap]]). */
  def wordNgramHashes(text: Column, n: Int): Column =
    expr2col(WordNgramHashes(col2expr(text), n))

  /** |A ∩ B| of two SORTED-ascending array<long> columns — the
    * per-candidate verify kernel of [[graft.ops.SetSimilarity]]. BOTH
    * preconditions are the caller's: inputs must be sorted ascending
    * AND element-distinct (the two-pointer merge counts every matched
    * occurrence, so a duplicated element overcounts vs
    * `array_intersect`'s set semantics — round-14 ADVICE #2; every
    * in-repo call site feeds `sort_array(collect_list(...))` over a
    * `.distinct()` token frame). See [[SortedLongIntersectCount]]. */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    expr2col(SortedLongIntersectCount(col2expr(a), col2expr(b)))

  /** Distinct char n-gram window count — the exact |A| for the Jaccard
    * length filter ([[graft.ops.Dedup]]'s in-explode candidate prune). */
  def charNgramDistinctCount(text: Column, n: Int): Column =
    expr2col(NgramDistinctCount(col2expr(text), n, word = false))

  /** Word-n-gram variant of [[charNgramDistinctCount]]. */
  def wordNgramDistinctCount(text: Column, n: Int): Column =
    expr2col(NgramDistinctCount(col2expr(text), n, word = true))

  /** Exact set-Jaccard of two texts' char n-gram hash sets (verify-side
    * twin of [[charNgramMinHash]]; runs on candidate pairs only). */
  def charNgramJaccard(a: Column, b: Column, n: Int): Column =
    expr2col(NgramJaccard(col2expr(a), col2expr(b), n, word = false))

  /** Word-n-gram variant of [[charNgramJaccard]]. */
  def wordNgramJaccard(a: Column, b: Column, n: Int): Column =
    expr2col(NgramJaccard(col2expr(a), col2expr(b), n, word = true))

  // ---------------------------------------------------------------------
  // Vector math (similarity search / embedding dedup)
  // ---------------------------------------------------------------------

  def l2DistanceSquared(a: Column, b: Column): Column =
    expr2col(L2Dist2(col2expr(a), col2expr(b)))

  def cosineSimilarity(a: Column, b: Column): Column =
    expr2col(CosineSim(col2expr(a), col2expr(b)))

  /** Signed-random-projection LSH signature (scale-invariant, bit b =
    * sign of a deterministic pseudo-random projection). `planeOffset`
    * picks a disjoint hyperplane family — a prefilter signature must
    * not reuse the bucketing signature's planes (see [[SrpHash]]). */
  def srpSignature(v: Column, bits: Int, planeOffset: Int = 0): Column =
    expr2col(SrpSignature(col2expr(v), bits, planeOffset))

  /** Viterbi unigram-LM encode (see [[UnigramKernel]]): vocab is
    * (piece, micro-nat logprob) pairs; the map rides the plan as a
    * codegen reference object. */
  def unigramEncode(text: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int): Column = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    vocab.foreach { case (p, lp) => m.put(p, java.lang.Long.valueOf(lp)) }
    expr2col(UnigramEncode(col2expr(text), m, maxPieceLen))
  }

  /** One-pass BPE merge application (see [[BpeKernel.encode]]):
    * merges ride the plan as a flattened (left, right) reference
    * array; bit-identical to the per-merge HOF fold it replaced. */
  def bpeEncode(text: Column, mergesFlat: Array[String], eow: String): Column =
    expr2col(BpeEncode(col2expr(text), mergesFlat, eow))

  /** One-pass int8 quantization profile (see [[Int8QuantKernel]]):
    * struct(scale_nano, sum_q, sum_abs_q, err_pico). */
  def int8QuantProfile(v: Column): Column =
    expr2col(Int8QuantProfile(col2expr(v)))

  /** Hilbert-curve clustering key (see [[HilbertKernel.xy2d]]). */
  def hilbertIndex(x: Column, y: Column, order: Int): Column =
    expr2col(HilbertIndex(col2expr(x.cast("long")), col2expr(y.cast("long")), order))

  /** MMR greedy diversity re-rank (see [[MmrKernel.rerank]]): input is
    * an array of (id long, score double, vec array<double>) structs. */
  def mmrRerank(candidates: Column, lambda: Double, k: Int): Column =
    expr2col(MmrRerank(col2expr(candidates), lambda, k))

  /** One-pass PCA projection (see [[PcaKernel.project]]): quantize +
    * center once, tight p×d mat-vec, bit-identical to the HOF spelling
    * it replaced. */
  def pcaProject(v: Column, mean: Array[Double], rows: Array[Array[Double]],
      q: Double): Column =
    expr2col(PcaProject(col2expr(v), mean, rows, q))

  /** MinHash signature: k 64-bit min-hashes over a shingle array, one
    * pass (codegen'd expression; deterministic across runs/engines). */
  def minHashSignature(shingles: Column, k: Int): Column =
    expr2col(MinHashSig(col2expr(shingles), k))

  /** LSH band keys from a minhash signature: `bands` hashes over contiguous
    * rows of the signature; candidate pairs share (band_index, band_hash). */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(signature, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))).as("band_hash")))

  /** 64-bit SimHash over whitespace tokens (custom expression). */
  def simHash(text: Column): Column = expr2col(SimHash(col2expr(text)))

  /** Per-group top-k aggregate (bounded heap, partial-aggregation
    * friendly): array<struct<id,score>> best-first. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    expr2col(TopKByScore(col2expr(score), col2expr(id), k).toAggregateExpression())

  /** Exact integer moment aggregate over a quantized `array<bigint>`
    * vector column: one buffer accumulates per-dim sums + the
    * upper-triangle Gram products (long fast path, BigInteger spill
    * before overflow — exact and partitioning-independent at any n).
    * Output: struct<n, sums: array<decimal(38,0)>>. */
  def vectorMoments(v: Column, dim: Int): Column =
    expr2col(VectorMomentsAgg(col2expr(v), dim).toAggregateExpression())

  /** Bounded "k smallest (id, payload) pairs" aggregate for LSH bucket
    * kernels (O(k) buffer, partial-aggregation friendly):
    * struct<items: array<struct<id,v>> ascending, n: total rows seen>. */
  def collectMinK(id: Column, v: Column, k: Int): Column =
    // cast both inputs to long up front: the heap kernel evals raw longs,
    // so an int id column would otherwise ClassCastException at runtime
    expr2col(CollectMinK(col2expr(id.cast("long")), col2expr(v.cast("long")), k)
      .toAggregateExpression())

  /** Approximate frequent-token aggregate over a text column (bounded
    * Misra-Gries counters, m per partition crossing the shuffle):
    * array<struct<token,count>>, counts are lower bounds. */
  def heavyHitters(text: Column, m: Int): Column =
    expr2col(HeavyHitters(col2expr(text), m).toAggregateExpression())

  /** Count-min-sketch frequent-token aggregate over a text column — the
    * mergeable alternative to [[heavyHitters]]: counts are UPPER bounds
    * (≤ true + e/width · N) and merging is exact cell-wise addition, so
    * estimates are independent of partition count. */
  def cmsHeavyHitters(text: Column, k: Int, depth: Int = 4,
      width: Int = 4096): Column =
    expr2col(CmsHeavyHitters(col2expr(text), k, depth, width)
      .toAggregateExpression())

  /** Spark's native Bloom-filter sketch aggregate over a LONG item column
    * (xxhash64 the value first): returns the serialized filter as binary.
    * Partial aggregation applies — per-partition filters OR-merge, so only
    * O(partitions) sketch blobs cross the exchange. */
  def bloomFilterAgg(item: Column, expectedItems: Long): Column =
    expr2col(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(col2expr(item), expectedItems).toAggregateExpression())

  /** Membership probe against a [[bloomFilterAgg]] sketch (no false
    * negatives; false-positive rate set by the build's expectedItems).
    * `bloom` must be a constant (a collected sketch as a binary literal). */
  def bloomMightContain(bloom: Column, item: Column): Column =
    expr2col(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(col2expr(bloom), col2expr(item)))

  /** Jaccard similarity of two set-valued array columns (one-pass
    * expression; inputs must be element-distinct). */
  def jaccard(a: Column, b: Column): Column =
    expr2col(JaccardSim(col2expr(a), col2expr(b)))
}
