package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinSyntax

/** Unigram-LM tokenizer induction (Kudo 2018 — the SentencePiece
  * unigram family), the second learned-tokenizer family next to [[Bpe]]:
  * where BPE grows a vocabulary bottom-up by merging, the unigram model
  * starts from a large substring candidate set and PRUNES it under a
  * piece-probability model, segmenting by Viterbi. The two families
  * disagree exactly where tokenizer papers say they should (unigram
  * keeps whole frequent words sooner; BPE composes them), which makes
  * shipping both the honest way to let a pipeline A/B its tokenizer.
  *
  * Scale design (100 TB): identical cost skeleton to the distributed
  * BPE trainer — ONE corpus scan into the (word, freq) vocabulary
  * frame, after which every training step runs on that frame. The seed
  * pass explodes each word's ≤ maxPieceLen substrings IN-ROW (bounded
  * |word|·L fan-out per vocabulary row) into one partial-aggregated
  * count; each EM round is one map-side Viterbi pass (the codegen
  * [[graft.functions.UnigramKernel]] with the vocab as a broadcast-free
  * plan reference) plus one piece-count aggregate. The ONLY collected
  * state is the vocabulary itself (seedSize-bounded — the PQ-codebook /
  * BPE-merge-table discipline: the artifact is what you collect).
  *
  * Determinism: piece log probabilities are integer micro-nats from
  * exact integer counts (+1 smoothing so a coverage char never hits
  * −∞), the Viterbi DP is exact long arithmetic with a fixed tie-break,
  * and every selection is under a (count desc, piece asc) total order —
  * the learned vocabulary is a pure function of the corpus, so the
  * golden pins it. Simplifications vs full SentencePiece, documented:
  * Viterbi-EM (hard counts along the best segmentation, not
  * forward-backward expectations) and a single prune-to-target after
  * the first E-step (later rounds re-estimate probabilities on the
  * fixed vocabulary).
  */
object Unigram {

  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** All substrings of `w` with length ≤ maxLen, one element per
    * occurrence position — in-row comprehension, no UDF. */
  private def substrings(w: Column, maxLen: Int): Column =
    flatten(transform(sequence(lit(1), length(w)), start =>
      transform(sequence(lit(1),
        least(lit(maxLen), length(w) - start + 1)), len =>
        w.substr(start, len))))

  /** Learn a unigram vocabulary: returns (piece, logprob_micro) sorted
    * by (logprob desc, piece asc). Every single character seen in the
    * corpus is retained (coverage: any word segments). */
  def learnVocab(docs: DataFrame, textCol: String, seedSize: Int,
      targetSize: Int, emRounds: Int, maxPieceLen: Int): Seq[(String, Long)] = {
    require(seedSize >= targetSize && targetSize >= 1,
      s"need seedSize >= targetSize >= 1, got $seedSize/$targetSize")
    require(emRounds >= 1 && emRounds <= 16,
      s"emRounds must be in [1, 16] (one shuffle each), got $emRounds")
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1, 16], got $maxPieceLen")
    val words = wordFreq(docs, textCol).pinned
    try {
      // seed candidates: substring occurrences weighted by word freq
      val seedCounts = words
        .select(col("f"), explode(substrings(col("w"), maxPieceLen)).as("p"))
        .groupBy(col("p")).agg(sum(col("f")).as("c"))
      val chars = seedCounts.filter(length(col("p")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val multis = seedCounts.filter(length(col("p")) > 1)
        .orderBy(col("c").desc, col("p")).limit(seedSize - chars.length)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      var vocab = toLogProbs(chars ++ multis)

      for (round <- 1 to emRounds) {
        // E-step: hard counts along each word's Viterbi segmentation
        val counts = words
          .select(col("f"), explode(graft.functions.unigramEncode(
            col("w"), vocab, maxPieceLen)).as("p"))
          .groupBy(col("p")).agg(sum(col("f")).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // prune to target after the first E-step; chars always survive
        val keepMultis =
          vocab.collect { case (p, _) if p.length > 1 => p -> counts.getOrElse(p, 0L) }
            .sortBy { case (p, c) => (-c, p) }
            .take(math.max(0, targetSize - chars.length))
        val keepChars = chars.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
        vocab = toLogProbs(keepChars ++ keepMultis)
      }
      vocab.sortBy { case (p, lp) => (-lp, p) }
    } finally Pin.release(words)
  }

  /** +1-smoothed micro-nat log probabilities from integer counts. */
  private def toLogProbs(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = counts.map(_._2 + 1L).sum
    counts.map { case (p, c) =>
      p -> math.round(math.log((c + 1).toDouble / total.toDouble) * 1e6)
    }
  }

  /** Map-side Viterbi encode of a text column under a learned vocab. */
  def encode(text: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int): Column =
    graft.functions.unigramEncode(text, vocab, maxPieceLen)
}
