package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinSyntax

/** Byte-pair-encoding vocabulary induction (Sennrich, Haddow, Birch
  * 2016) — the learned-tokenizer side of a training-data stack. The
  * library's token counting (F19) approximates a FIXED external vocab;
  * this LEARNS one from the corpus, which is what a pipeline needs to
  * budget tokens, pack sequences, and estimate compression for a
  * tokenizer that will actually be trained on this data.
  *
  * Scale design (100 TB): the corpus is scanned ONCE into a
  * (word, freq) vocabulary frame — classic BPE trains on word
  * frequencies, not running text — so every merge round runs on the
  * vocabulary (Zipf-tailed: far smaller than the corpus but still
  * potentially billions of rows, so it is never collected and never
  * broadcast). A round is one partial-aggregated pair-count over the
  * vocabulary plus a driver-side argmax of exactly ONE row (the chosen
  * pair — the same dimension-scale eager action as
  * contaminationBloom's sketch collect), then a map-only array fold
  * applies the merge. Each round is pinned and the round it supersedes
  * released ([[Pin.release]]), as in [[Dedup.connectedComponents]], so
  * M merges cost M small shuffles, not an M-deep lineage.
  */
object Bpe {

  /** End-of-word marker (standard BPE): merges never cross word
    * boundaries, and a symbol sequence decodes unambiguously. */
  val Eow = "</w>"

  /** Greedy left-to-right non-overlapping merge of adjacent (left,
    * right) pairs inside one symbol array — after "a a a" merges its
    * first pair, the result "aa" cannot re-merge with the scanned tail
    * ("aa" ≠ "a"), which is exactly classic BPE's replace order. */
  private def mergeFold(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  private def wordsOf(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)

  /** Learn up to `merges` BPE merge rules from the corpus, stopping
    * early when no pair reaches `minFreq`. Pair counts are weighted by
    * word frequency and count every adjacent position (classic
    * get_stats). Ties break deterministically: highest count, then
    * lexicographic (left, right).
    *
    * Returns (step, left, right, pair_freq, vocab_size_after) — the
    * merge table IS the tokenizer artifact; `vocab_size_after` (distinct
    * symbol count once the merge is applied) pins that each round's
    * merge was applied corpus-wide, not just chosen. */
  /** Supported merge-round regime for [[learnMerges]]: each round is one
    * Spark shuffle + one-row collect + localCheckpoint, sequentially —
    * right when the vocabulary frame is too big to collect, but a real
    * 32k–50k-merge tokenizer would mean 32k sequential Spark jobs.
    * Beyond this bound use [[learnMergesLocal]], which runs the merge
    * loop driver-side on the distributed-counted word-frequency table
    * (how production tokenizer trainers actually split the work). */
  val MaxDistributedMerges = 256

  def learnMerges(docs: DataFrame, textCol: String, merges: Int,
      minFreq: Long = 2): DataFrame = {
    require(merges > 0, s"learnMerges needs merges > 0, got $merges")
    require(merges <= MaxDistributedMerges,
      s"learnMerges runs one Spark job round PER merge — $merges rounds " +
        s"exceeds the supported $MaxDistributedMerges. Use learnMergesLocal " +
        "(driver-side loop over the word-frequency table) for tokenizer-" +
        "scale merge counts.")
    val spark = docs.sparkSession
    import spark.implicits._
    var cur = docs
      .select(explode(wordsOf(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(split(col("word"), ""), array(lit(Eow))).as("syms"))
      .pinned
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      val pairs = cur.select(col("freq"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (l, r) => struct(l.as("left"), r.as("right")))).as("p"))
        .groupBy(col("p.left").as("left"), col("p.right").as("right"))
        .agg(sum(col("freq")).as("pair_freq"))
      val best = pairs
        .orderBy(col("pair_freq").desc, col("left"), col("right"))
        .limit(1).collect() // ONE row per round — the driver argmax
      if (best.isEmpty || best(0).getAs[Long]("pair_freq") < minFreq)
        exhausted = true
      else {
        val l = best(0).getAs[String]("left")
        val r = best(0).getAs[String]("right")
        val f = best(0).getAs[Long]("pair_freq")
        val next = cur
          .select(col("freq"), mergeFold(col("syms"), l, r).as("syms"))
          .pinned
        val vocabAfter = next.select(explode(col("syms")).as("s"))
          .agg(countDistinct(col("s"))).collect()(0).getLong(0)
        Pin.release(cur) // previous round superseded
        cur = next
        step += 1
        out += ((step, l, r, f, vocabAfter))
      }
    }
    Pin.release(cur)
    out.toSeq.toDF("step", "left", "right", "pair_freq", "vocab_size_after")
  }

  /** Tokenizer-scale BPE: ONE distributed pass counts word frequencies
    * (the only corpus-size-dependent work), the top `maxWords` rows by
    * (freq desc, word) are collected, and the classic merge loop runs
    * driver-side — zero Spark jobs per round, so 32k–50k merges are
    * minutes, not 32k sequential shuffles. This is how production
    * tokenizer trainers split the work: distributed counting, local
    * merge induction. The `maxWords` cap (standard practice) bounds
    * driver memory; a Zipf tail cut changes pair counts only by the
    * dropped words' weight. Semantics match [[learnMerges]] exactly
    * (same tie-break: highest count, then lexicographic (left, right);
    * same minFreq stop; same vocab_size_after audit column) — pinned by
    * the equivalence test in BpeSpec. Complexity is
    * O(merges × Σ|word symbols|) from the per-round recount; fine to
    * ~50k merges × ~1M capped words offline. */
  def learnMergesLocal(docs: DataFrame, textCol: String, merges: Int,
      minFreq: Long = 2, maxWords: Int = 1 << 20): DataFrame = {
    require(merges > 0, s"learnMergesLocal needs merges > 0, got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab: Array[(Array[String], Long)] = docs
      .select(explode(wordsOf(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(maxWords)
      .as[(String, Long)].collect()
      .map { case (w, f) => (w.split("").filter(_.nonEmpty) :+ Eow, f) }

    val words = vocab.map(_._1.toBuffer)
    val freqs = vocab.map(_._2)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var step = 0
    var exhausted = vocab.isEmpty
    while (step < merges && !exhausted) {
      // get_stats: adjacent-pair counts weighted by word frequency
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < words.length) {
        val w = words(i); val f = freqs(i)
        var j = 0
        while (j < w.length - 1) {
          val k = (w(j), w(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), f) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        if (f < minFreq) exhausted = true
        else {
          // greedy left-to-right non-overlapping apply (mergeFold twin)
          i = 0
          while (i < words.length) {
            val w = words(i)
            if (w.length > 1) {
              val nw = scala.collection.mutable.ArrayBuffer.empty[String]
              var j = 0
              while (j < w.length) {
                if (nw.nonEmpty && nw.last == l && w(j) == r)
                  nw(nw.length - 1) = l + r
                else nw += w(j)
                j += 1
              }
              words(i) = nw
            }
            i += 1
          }
          val vocabAfter = words.iterator.flatten.toSet.size.toLong
          step += 1
          out += ((step, l, r, f, vocabAfter))
        }
      }
    }
    out.toSeq.toDF("step", "left", "right", "pair_freq", "vocab_size_after")
  }

  /** Encode a text column with a learned merge list: per word, start
    * from characters + [[Eow]] and apply every merge in learned order;
    * the result flattens to the document's token sequence. Pure
    * map-side expression — no join against the vocabulary, no shuffle;
    * the merge list is query-compile-time small (a tokenizer has a
    * bounded merge table), so the fold chain stays a static expression
    * tree. */
  def encodeBpe(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.bpeEncode(text,
      merges.flatMap { case (l, r) => Seq(l, r) }.toArray, Eow)

  /** The original HOF spelling of [[encodeBpe]] — per word, one
    * `aggregate` fold per merge rule, each rebuilding the accumulator
    * with `concat(slice(...))`. O(len²) allocation per merge per word;
    * kept (test-only) as the executable specification the
    * [[graft.functions.BpeKernel]] differential spec pins against. */
  private[graft] def encodeBpeHof(text: Column, merges: Seq[(String, String)]): Column = {
    val init = transform(wordsOf(text),
      w => concat(split(w, ""), array(lit(Eow))))
    val merged = merges.foldLeft(init) { case (ws, (l, r)) =>
      transform(ws, a => mergeFold(a, l, r))
    }
    flatten(merged)
  }

  /** Post-BPE token count of a text column — the budget/packing input
    * once a vocabulary has been learned. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    size(encodeBpe(text, merges))
}
