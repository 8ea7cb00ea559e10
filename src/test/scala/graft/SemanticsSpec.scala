package graft

import org.apache.spark.sql.functions._

/** Semantic assertions for the queries that have no DuckDB oracle
  * (approximate / custom-hash operators): the driver only checks
  * rows > 0 for these, so the real guarantees are pinned here. */
class SemanticsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q15 minhash finds every planted near-dup pair") {
    val pairs = q("q15_minhash_lsh")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docIds = Tables.t(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    // every doc must pair with its planted twin (id + 1_000_000)
    docIds.foreach { id =>
      assert(pairs.contains((id, id + 1099511627776L)), s"missing planted pair for doc $id")
    }
  }

  test("q18 embedding near-dup finds every scaled twin at cosine 1") {
    val rows = q("q18_embedding_neardup").collect()
    val n = Tables.t(spark, sf, "embeddings").count()
    val twins = rows.filter(r => r.getLong(1) == r.getLong(0) + 1099511627776L)
    assert(twins.length == n, s"${twins.length} twins of $n")
    assert(twins.forall(_.getDouble(2) == 1.0))
  }

  test("q53 SRP near-dup finds every scaled twin at cosine 1") {
    val rows = q("q53_embedding_srp").collect()
    val n = Tables.t(spark, sf, "embeddings").count()
    // SRP signatures are scale-invariant, so every twin shares ALL bands
    // with its original — recall for the planted pairs is deterministic
    val twins = rows.filter(r => r.getLong(1) == r.getLong(0) + 1099511627776L)
    assert(twins.length == n, s"${twins.length} twins of $n")
    assert(twins.forall(_.getDouble(2) == 1.0))
  }

  test("q20 IVF: every probe's rank-1 neighbor is itself") {
    val rows = q("q20_ann_ivf").filter(col("rank") === 1).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("probe_id"))
      assert(r.getAs[Double]("score") == 1.0)
    }
  }

  test("q16 simhash pairs include the planted twins at small hamming") {
    val pairs = q("q16_simhash").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number](2).longValue())).toMap
    val docIds = Tables.t(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val found = docIds.count(id => pairs.contains((id, id + 1099511627776L)))
    // simhash banding is recall-oriented, not exhaustive; the one-token
    // perturbation must still be caught for the large majority
    assert(found > docIds.length * 0.9, s"only $found/${docIds.length} twins found")
    pairs.values.foreach(h => assert(h <= 8))
  }

  test("q21 language-id predicts a real label for every doc") {
    val rows = q("q21_lang_id").collect()
    assert(rows.forall(r => r.getAs[String]("lang_pred") != null))
    val langs = rows.map(_.getAs[String]("lang_pred")).toSet
    assert(langs.subsetOf(Set("en", "es", "fr", "de", "zh", "und")))
  }

  test("q23 fingerprints are deterministic and order-sensitive") {
    val a = q("q23_fingerprint").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = q("q23_fingerprint").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("q47 dedup: no near-dup pair survives with both endpoints kept") {
    val kept = q("q47_dedup_apply").collect().map(_.getLong(0)).toSet
    val pairs = q("q15_minhash_lsh")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // clusters can merge beyond the planted twins (natural near-dups), so
    // the invariant is: never both endpoints of a detected pair kept, and
    // the planted twin is never kept alongside its original
    pairs.foreach { case (a, b) =>
      assert(!(kept.contains(a) && kept.contains(b)), s"pair ($a,$b) both kept")
    }
    val docIds = Tables.t(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    assert(docIds.forall(id => !(kept.contains(id) && kept.contains(id + 1099511627776L))))
    assert(kept.nonEmpty && kept.size < docIds.length * 2)
  }

  test("dedup queries leave no explicit caches behind (no persist leaks)") {
    // only the block sets these three queries add count: earlier suites'
    // pins (graft.Surface holds its sweep's for the JVM) stay untouched
    val before = spark.sparkContext.getPersistentRDDs.keySet
    q("q15_minhash_lsh").collect()
    q("q17_ngram_jaccard").collect()
    q("q47_dedup_apply").collect()
    // Bounded, enumerable lingering set (round 16): q15 and q17 now pin
    // their result before the output sort (the range-sampler fix), so
    // each leaves ONE result-frame checkpoint, plus connectedComponents'
    // final (id, component) checkpoint from q47 = 3. These are released
    // by the ContextCleaner when the frames are dereferenced; anything
    // beyond the inventory is a persist leak.
    val lingering = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(lingering.size <= 3,
      s"${lingering.size} cached RDD block sets linger: " +
        lingering.values.map(r => s"${r.id}:${r.getStorageLevel.description}").mkString(", "))
  }

  test("q50 leakage-safe split: no near-dup pair straddles train/test") {
    val rows = q("q50_leakage_split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every doc assigned exactly one side; both sides populated at 10%
    val sides = rows.values.map(_._2).toSet
    assert(sides == Set("train", "test"), s"sides: $sides")
    // same component -> same side (the leakage guarantee), and the planted
    // twin shares its original's component, hence its side
    rows.groupBy(_._2._1).foreach { case (compId, members) =>
      assert(members.values.map(_._2).toSet.size == 1,
        s"component $compId straddles the split")
    }
    val docIds = Tables.t(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    docIds.foreach { id =>
      assert(rows(id)._2 == rows(id + 1099511627776L)._2, s"twin of $id crossed the split")
    }
  }

  test("q52 heavy hitters: exact top tokens retained, counts are sound lower bounds") {
    val exact = q("q51_token_topk").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // full sketch contents (q52 itself shows only the top 20 of 64 counters)
    val sketch = Tables.t(spark, sf, "documents")
      .agg(graft.functions.heavyHitters(col("text"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token"), col("e.count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalTokens = Tables.t(spark, sf, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 0).count()
    val eps = totalTokens / 65 // m = 64 ⇒ error ≤ N/(m+1)
    // MG guarantee: every token with true count > N/(m+1) is retained,
    // and a retained count never exceeds the true count or undercounts
    // it by more than N/(m+1)
    exact.filter(_._2 > eps).foreach { case (tok, n) =>
      assert(sketch.contains(tok), s"frequent token '$tok' ($n) missing from sketch")
      val lb = sketch(tok)
      assert(lb <= n && n - lb <= eps, s"'$tok': lb $lb vs exact $n (eps $eps)")
    }
  }

  test("q85 CMS heavy hitters: counts are sound upper bounds of the exact counts") {
    val exact = Tables.t(spark, sf, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val sketch = q("q85_cms_heavy_hitters").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(sketch.nonEmpty)
    val epsN = math.ceil(math.E / 4096 * n).toLong // default width 4096
    sketch.foreach { case (tok, ub) =>
      val truth = exact.getOrElse(tok, 0L)
      assert(ub >= truth, s"'$tok': CMS must never undercount ($ub < $truth)")
      assert(ub <= truth + epsN, s"'$tok': overshoot ${ub - truth} > $epsN")
    }
    // the reported top token is the true top token (the corpus head is
    // far above the sketch's error band); tie-break must match the
    // query's count-desc-then-token-ASC ordering
    val trueTop = exact.toSeq.sortBy { case (t, c) => (-c, t) }.head._1
    assert(sketch.head._1 == trueTop, s"${sketch.head} vs $trueTop")
  }

  test("contaminationBloom matches exact contamination; empty bench set yields zeros") {
    val docs = Tables.t(spark, sf, "documents")
    val exact = graft.ops.Corpus.contamination(docs,
      col("doc_id") % 20 === 0, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a deliberately-undersized sketch (high FP rate) still matches: the
    // exact verify join, not the Bloom filter, decides every count
    val bloom = graft.ops.Corpus.contaminationBloom(docs,
      col("doc_id") % 20 === 0, "doc_id", "text", n = 5, expectedItems = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloom == exact)
    val none = graft.ops.Corpus.contaminationBloom(docs,
      lit(false), "doc_id", "text", n = 5)
    assert(none.agg(sum(col("n_contaminated"))).head.getLong(0) == 0L)
    assert(none.count() == docs.count())
  }

  test("hashSplit rejects misordered or non-lowercase-hex cut lists") {
    // md5 hex is lowercase and when() chains evaluate in list order, so
    // either defect would silently mis-assign every row if accepted
    val mis = intercept[IllegalArgumentException](
      graft.ops.Corpus.hashSplit(col("doc_id"), "s:",
        Seq("e6" -> "val", "cd" -> "train"), "test"))
    assert(mis.getMessage.contains("ascending"))
    val upper = intercept[IllegalArgumentException](
      graft.ops.Corpus.hashSplit(col("doc_id"), "s:",
        Seq("CD" -> "train"), "test"))
    assert(upper.getMessage.contains("lowercase hex"))
  }

  test("quantileBand (approx scale path) retains roughly the middle band per group") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val kept = graft.ops.Corpus.quantileBand(docs, "lang",
      graft.functions.qualityScore(col("text")), 0.25, 0.75)
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBy = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // with near-exact sketch accuracy the inclusive [p25, p75] band keeps
    // ~half of each group (ties can push it above 50%, never below 40%)
    total.foreach { case (lang, n) =>
      val k = keptBy.getOrElse(lang, 0L).toDouble / n
      assert(k >= 0.4 && k <= 0.75, s"lang $lang kept ${k * 100}%")
    }
  }

  test("q55 chunking covers every token, including the ragged tail") {
    val docTokens = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // max(chunk_start + chunk token count) per doc must reach the doc's
    // token count — the final (possibly truncated) window may not drop
    // the tail past the last full stride
    val covered = q("q55_token_chunks").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => r.getLong(1) + r.getString(2).split(" ").length).max
      }
    docTokens.foreach { case (id, n) =>
      assert(covered(id) == n, s"doc $id: covered ${covered(id)} of $n tokens")
    }
  }

  test("q45 approximate distinct count is within the configured error") {
    q("q45_approx_distinct").collect().foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"approx $approx vs exact $exact")
    }
  }

  test("weightedSample: without replacement, weight-biased, zero-weight excluded") {
    import spark.implicits._
    // one group: ids 0-49 carry weight 5, ids 50-99 weight 0.5
    val docs = (0L until 100L).map(i => (i, "g", if (i < 50) 5.0 else 0.5))
      .toDF("doc_id", "grp", "w")
    val kept = graft.ops.Corpus.weightedSample(docs, "grp", "doc_id", col("w"),
      k = 10, salt = "t:").select("doc_id").as[Long].collect()
    assert(kept.length == 10 && kept.distinct.length == 10, "not a 10-sample without replacement")
    // E[heavy] ≈ 9.1 of 10 under A-RES with this weight ratio; the draw
    // is deterministic (salted md5), so this asserts a fixed outcome
    assert(kept.count(_ < 50) >= 7, s"heavy docs under-sampled: ${kept.toSeq.sorted}")
    // a zero-weight doc never beats any positive-weight doc
    val withZero = docs.withColumn("w", when(col("doc_id") === 7, 0.0).otherwise(col("w")))
    val kept2 = graft.ops.Corpus.weightedSample(withZero, "grp", "doc_id", col("w"),
      k = 10, salt = "t:").select("doc_id").as[Long].collect()
    assert(!kept2.contains(7L))
    // k >= group size keeps everything with positive weight competition intact
    val all = graft.ops.Corpus.weightedSample(docs, "grp", "doc_id", col("w"),
      k = 200, salt = "t:").count()
    assert(all == 100)
  }

  test("tokenBudgetCap keeps the boundary-crossing doc and always one per source") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 40L), (4L, "a", 40L),
      (10L, "b", 500L)) // single giant doc: must survive its own budget
      .toDF("doc_id", "source", "n_tok")
    val kept = graft.ops.Corpus.tokenBudgetCap(docs, "source", "doc_id",
      col("n_tok"), budget = 100, salt = "t:")
      .select("doc_id", "source").as[(Long, String)].collect()
    val aKept = kept.filter(_._2 == "a").map(_._1)
    // 40+40 = 80 < 100 before the third doc (which crosses and is kept);
    // the fourth sees cum 120 >= 100 and is dropped
    assert(aKept.length == 3, s"source a kept ${aKept.toSeq}")
    assert(kept.count(_._2 == "b") == 1, "oversized single doc must survive")
    // kept set is budget-sound: each kept doc's tokens-before < budget
    // under the salted order — verified by construction above
  }

  test("stripBoilerplate drops shared lines corpus-wide, keeps unique content") {
    import spark.implicits._
    // 12 docs share a footer; one line sits at exactly minDocs-1 docs
    val lines = (1 to 12).flatMap { d =>
      Seq((d.toLong, 0, s"unique content of doc $d"), (d.toLong, 1, "COOKIE BANNER")) ++
        (if (d <= 4) Seq((d.toLong, 2, "almost common")) else Nil)
    }.toDF("doc_id", "pos", "line")
    val kept = graft.ops.Corpus.stripBoilerplate(lines, "doc_id", "line", minDocs = 5)
      .select("line").as[String].collect()
    assert(!kept.contains("COOKIE BANNER"))
    assert(kept.count(_ == "almost common") == 4) // 4 docs < minDocs: kept
    assert(kept.count(_.startsWith("unique")) == 12)
    intercept[IllegalArgumentException](
      graft.ops.Corpus.stripBoilerplate(lines, "doc_id", "line", minDocs = 1))
  }

  test("stripBoilerplate counts DISTINCT docs, not occurrences") {
    import spark.implicits._
    // one doc repeating a line 10 times is self-repetition (q60's job),
    // not corpus boilerplate — it must survive a minDocs=3 pass
    val lines = ((1 to 10).map(p => (1L, p, "la la la")) :+ ((2L, 1, "other")))
      .toDF("doc_id", "pos", "line")
    val kept = graft.ops.Corpus.stripBoilerplate(lines, "doc_id", "line", minDocs = 3)
    assert(kept.count() == 11)
  }

  test("mixtureResample: copy counts bracket the weight and hit it in expectation") {
    import spark.implicits._
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("source"))
    val weights = docs.select(col("source")).distinct()
      .withColumn("weight",
        lit(0.5) + (substring(col("source"), 4, 8).cast("int") % 5) * lit(0.6))
    val out = graft.ops.Corpus.mixtureResample(
      docs, weights, "source", "weight", "doc_id", "t:")
    val perDoc = out.groupBy("doc_id", "source").agg(max("n_copies").as("n"))
      .select("source", "n").as[(String, Long)].collect()
    perDoc.foreach { case (src, n) =>
      val w = 0.5 + (src.drop(3).toInt % 5) * 0.6
      assert(n == math.floor(w).toLong || n == math.floor(w).toLong + 1,
        s"$src: $n copies for weight $w")
    }
    // epoch_copy enumerates 1..n_copies exactly
    val bad = out.groupBy("doc_id").agg(
      count(lit(1)).as("rows"), max("n_copies").as("n"),
      min("epoch_copy").as("lo"), max("epoch_copy").as("hi"))
      .filter(col("rows") =!= col("n") || col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(bad.count() == 0)
    // realized corpus size tracks the expected mixture within 10% —
    // expectation over ALL input docs (zero-copy draws included)
    val expected = docs.select("source").as[String].collect()
      .map(src => 0.5 + (src.drop(3).toInt % 5) * 0.6).sum
    val realized = out.count().toDouble
    assert(math.abs(realized - expected) / expected < 0.1,
      s"realized $realized vs expected $expected")
  }

  test("sourceOverlap: exact hand-computed pair matrix, zero pairs included") {
    import spark.implicits._
    val docs = Seq((1L, "A", "a b c d"), (2L, "B", "b c d e"), (3L, "C", "x y"))
      .toDF("doc_id", "source", "text")
    val got = graft.ops.Corpus.sourceOverlap(docs, "source", "text", n = 2)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("jaccard")))
    // A={ab,bc,cd} B={bc,cd,de} C={xy}; A∩B={bc,cd} → j=2/4
    assert(got.toSeq == Seq(
      ("A", "B", 2L, 3L, 3L, 0.5),
      ("A", "C", 0L, 3L, 1L, 0.0),
      ("B", "C", 0L, 3L, 1L, 0.0)), got.toSeq.toString)
  }

  test("corpusCard: hand-computed volumes, dup density, language share") {
    import spark.implicits._
    val docs = Seq(
      (1L, "srcA", "en", "hello world again"),
      (2L, "srcA", "en", "hello world again"),   // exact dup of doc 1
      (3L, "srcA", "de", "hallo welt"),
      (4L, "srcB", "en", "one")
    ).toDF("doc_id", "source", "lang", "text")
    val got = graft.ops.Corpus.corpusCard(docs, "source", "text", "lang")
      .orderBy("source").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(7), r.getLong(8)))).toMap
    // srcA: 3 docs, 3+3+2=8 tokens, 2 unique texts, 2 en, min 2 max 3
    assert(got("srcA") == ((3L, 8L, 2L, 2L, 2L, 3L)), got("srcA").toString)
    // srcB: 1 doc, 1 token, 1 unique, 1 en, min=max=1
    assert(got("srcB") == ((1L, 1L, 1L, 1L, 1L, 1L)), got("srcB").toString)
  }

  test("dupGramStats: cross-doc grams count, self-repeats and short docs don't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),        // bigrams ab bc cd de; shares ab bc with doc 2
      (2L, "a b c x y"),        // ab bc xy (x y unique pair tail: xy)
      (3L, "p q p q p q"),      // self-repeated pq/qp only — df=1, NOT duplicate
      (4L, "z"),                // too short for a bigram → 0/0/0.0
      (5L, "")                  // empty → 0/0/0.0
    ).toDF("doc_id", "text")
    val got = graft.ops.Corpus.dupGramStats(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 2L, 0.5),       // ab bc duplicated (also in doc 2), cd de not
      (2L, 4L, 2L, 0.5),       // ab bc duplicated, cx xy not
      (3L, 5L, 0L, 0.0),       // within-doc repeats have doc-frequency 1
      (4L, 0L, 0L, 0.0),
      (5L, 0L, 0L, 0.0)), got.toSeq.toString)
  }

  test("sourceOverlap: duplicate docs don't change the set-semantics matrix") {
    import spark.implicits._
    val base = Seq((1L, "A", "a b c"), (2L, "B", "b c d"))
    val dup = base :+ (9L, "A", "a b c")
    def m(rows: Seq[(Long, String, String)]) =
      graft.ops.Corpus.sourceOverlap(rows.toDF("doc_id", "source", "text"),
        "source", "text", n = 2)
        .orderBy("source_a", "source_b").collect().map(_.toSeq).toSeq
    assert(m(base) == m(dup))
  }

  test("sourceOverlapSketch tracks exact Jaccard; disjoint sources stay near 0") {
    import spark.implicits._
    // shared pool of 60 bigram-generating tokens + 40 private per source
    def words(tag: String, k: Int) = (0 until k).map(i => s"$tag$i")
    val shared = words("s", 60)
    val aText = (shared ++ words("a", 40)).mkString(" ")
    val bText = (shared ++ words("b", 40)).mkString(" ")
    val docs = Seq((1L, "A", aText), (2L, "B", bText), (3L, "C", words("z", 30).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val exact = graft.ops.Corpus.sourceOverlap(docs, "source", "text", n = 2)
      .collect().map(r => ((r.getAs[String]("source_a"),
        r.getAs[String]("source_b")), r.getAs[Double]("jaccard"))).toMap
    val est = graft.ops.Corpus
      .sourceOverlapSketch(docs, "source", "text", n = 2, perms = 128)
      .collect().map(r => ((r.getAs[String]("source_a"),
        r.getAs[String]("source_b")), r.getAs[Double]("jaccard_est"))).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, j) =>
      assert(math.abs(est(k) - j) <= 0.15, s"pair $k: est ${est(k)} vs exact $j")
    }
    assert(est(("A", "C")) <= 0.05 && est(("B", "C")) <= 0.05,
      "disjoint sources should estimate near zero")
  }

  test("allocateBudget: quotas sum to the budget exactly; remainders rank-ordered") {
    import spark.implicits._
    // weights 5/3/2 of total 7: quotas 3.5/2.1/1.4 → bases 3/2/1 (sum 6),
    // one leftover goes to the largest remainder (a: .5)
    val w = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("k", "w")
    val got = graft.ops.Corpus.allocateBudget(w, col("k"), col("w"), 7L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(got == Map("a" -> 4L, "b" -> 2L, "c" -> 1L), got.toString)
    // property: any weights, any total — Σalloc == total
    val big = Seq(("s1", 17L), ("s2", 13L), ("s3", 7L), ("s4", 41L),
      ("s5", 1L)).toDF("k", "w")
    val sum = graft.ops.Corpus.allocateBudget(big, col("k"), col("w"), 1000L)
      .agg(org.apache.spark.sql.functions.sum("alloc")).collect().head.getLong(0)
    assert(sum == 1000L, s"allocation leaked: $sum")
  }

  test("nearestOver: finds the scaled twin at cosine 1; ties break to min ref id") {
    import spark.implicits._
    val refs = Seq((100L, Array(1f, 0f)), (101L, Array(0f, 1f)),
      (102L, Array(0f, 2f))).toDF("vec_id", "embedding")
    val vecs = Seq((1L, Array(2f, 0f)), (2L, Array(0f, 5f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.nearestOver(vecs, refs, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // vec 1 → ref 100 (cos 1); vec 2 ties refs 101/102 at cos 1 → min id 101
    assert(got == Set((1L, 100L, 1.0), (2L, 101L, 1.0)), got.toString)
  }

  test("dupSpans: islands split runs; self-repeats and clean docs stay zero") {
    import spark.implicits._
    val docs = Seq(
      // doc 1 vs doc 2 share "a b", "b c" (positions 0,1 → one run of 2)
      // and "e f" (position 4 → its own run of 1): 2 spans, max_run 2
      (1L, "a b c d e f g"),
      (2L, "a b c x e f y"),
      (3L, "p q p q p q"),        // within-doc repeats: df=1 → clean
      (4L, "")                    // gram-less → all zeros
    ).toDF("doc_id", "text")
    val got = graft.ops.Corpus.dupSpans(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 6L, 3L, 2L, 2L),
      (2L, 6L, 3L, 2L, 2L),
      (3L, 5L, 0L, 0L, 0L),
      (4L, 0L, 0L, 0L, 0L)), got.toSeq.toString)
  }

  test("sourceDivergence: a corpus-matching source scores ~0, a skewed one higher") {
    import spark.implicits._
    // source A = the corpus profile (uniform over 4 tokens); source B
    // concentrates on one token → KL(B‖corpus) must exceed KL(A‖corpus)
    val docs = Seq(
      (1L, "A", "w x y z"), (2L, "A", "w x y z"),
      (3L, "B", "w w w w"), (4L, "B", "w w w x")
    ).toDF("doc_id", "source", "text")
    val kl = graft.ops.Corpus.sourceDivergence(docs, "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("kl_nano"))).toMap
    assert(kl("A")._1 == 8L && kl("B")._1 == 8L)
    assert(kl("B")._2 > kl("A")._2,
      s"skewed source should diverge more: $kl")
    assert(kl("A")._2 >= 0L && kl("B")._2 > 100000000L, kl.toString) // > 0.1 nat
  }
}
