package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def people = Seq(
    ("ocd-person/d7c97bc3-b7cb-585b-b9e3-def97fcb9db6", "Tammy Baldwin", "Tammy", "Baldwin",
      "ocd-division/country:us/state:wi", "Senate"),
    ("ocd-person/80f88c07-5f6d-5ca3-8121-9202259a50f2", "John Barrasso", "John", "Barrasso",
      "ocd-division/country:us/state:wy", "Senate"),
    ("ocd-person/16a0a125-6ebe-58b3-810f-df10c0e7df1f", "Michael F. Bennet", "Michael", "Bennet",
      "ocd-division/country:us/state:co", "Senate"))
    .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")

  test("entity resolution: reference demo fixture — last-name exact matches") {
    // reference: scripts/bills/vote_matching.py:281-311
    val votes = Seq(
      (1L, "Baldwin (D-WI)", "upper"),
      (2L, "Barrasso (R-WY)", "upper"),
      (3L, "Bennet (D-CO)", "upper"))
      .toDF("vote_id", "voter_name", "chamber")
    val out = EntityResolution.resolveVoters(votes, people)
      .orderBy("vote_id").collect()
    assert(out.map(_.getAs[String]("person_id")).toSeq == Seq(
      "ocd-person/d7c97bc3-b7cb-585b-b9e3-def97fcb9db6",
      "ocd-person/80f88c07-5f6d-5ca3-8121-9202259a50f2",
      "ocd-person/16a0a125-6ebe-58b3-810f-df10c0e7df1f"))
    assert(out.forall(_.getAs[String]("match_type") == "exact_last"))
  }

  test("entity resolution: full-name exact, fuzzy, and unmatched paths") {
    val votes = Seq(
      (1L, "Tammy Baldwin (D-WI)", "upper"), // exact_full
      (2L, "Tammy Baldwn (D-WI)", "upper"),  // fuzzy (typo)
      (3L, "Zzyzx Qwerty (D-WI)", "upper"),  // unmatched
      (4L, "Michael Bennet (D-CO)", "upper")) // fuzzy via first+last variant
      .toDF("vote_id", "voter_name", "chamber")
    val out = EntityResolution.resolveVoters(votes, people)
      .orderBy("vote_id").collect()
    assert(out(0).getAs[String]("match_type") == "exact_full")
    assert(out(1).getAs[String]("match_type") == "fuzzy")
    assert(out(1).getAs[String]("person_id").endsWith("def97fcb9db6"))
    assert(out(2).getAs[String]("match_type") == "unmatched")
    assert(out(3).getAs[String]("person_id").endsWith("df10c0e7df1f"))
  }

  test("entity resolution: chamber blocks cross-chamber matches") {
    val mixed = people.withColumn("chamber",
      when(col("last_name") === "Baldwin", "House").otherwise(col("chamber")))
    val votes = Seq((1L, "Baldwin (D-WI)", "upper")).toDF("vote_id", "voter_name", "chamber")
    val out = EntityResolution.resolveVoters(votes, mixed).collect()
    assert(out(0).getAs[String]("match_type") == "unmatched")
  }

  // The reference's decision order (vote_matching.py:124-168): the
  // exact walk first, in person order, and only then the fuzzy top-1.
  private def senators(rows: (String, String, String)*) =
    rows.map { case (id, name, last) =>
      (id, name, name.split(" ").head, last, "ocd-division/country:us/state:wi", "Senate")
    }.toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")

  private def resolveOne(voter: String, cands: org.apache.spark.sql.DataFrame) = {
    val out = EntityResolution.resolveVoters(
      Seq((1L, voter, "upper")).toDF("vote_id", "voter_name", "chamber"), cands).collect()
    assert(out.length == 1)
    (out(0).getAs[String]("person_id"), out(0).getAs[String]("match_type"))
  }

  test("entity resolution: an exact last-name hit beats a fuzzy-only candidate " +
    "with a lower person_id") {
    val fuzzyOnly = ("p-1", "Baldwinn", "Baldwinn")
    val exact = ("p-9", "Tammy Baldwin", "Baldwin")
    // alone, the fuzzy-only candidate is a match
    assert(resolveOne("Baldwin (D-WI)", senators(fuzzyOnly)) == ("p-1" -> "fuzzy"))
    assert(resolveOne("Baldwin (D-WI)", senators(fuzzyOnly, exact)) ==
      ("p-9" -> "exact_last"))
  }

  test("entity resolution: between two exact hits the lowest person_id wins, " +
    "with that row's match type") {
    val lastHit = ("p-1", "Tammy Baldwin", "Baldwin")
    val fullHit = ("p-2", "Baldwin", "Other")
    assert(resolveOne("Baldwin (D-WI)", senators(lastHit, fullHit)) ==
      ("p-1" -> "exact_last"))
    assert(resolveOne("Baldwin (D-WI)",
      senators(lastHit.copy(_1 = "p-3"), fullHit)) == ("p-2" -> "exact_full"))
  }

  test("entity resolution: a vote with no state resolves through the " +
    "cross-join path, exactly and fuzzily") {
    val votes = Seq(
      (1L, "Barrasso", "upper"),       // exact_last: no "(R-WY)" suffix
      (2L, "Michael Bennet", "upper"), // fuzzy: the full name is "Michael F. Bennet"
      (3L, "Tammy Baldwn", "upper"),   // fuzzy
      (4L, "Barrasso", "lower"))       // the chamber still blocks
      .toDF("vote_id", "voter_name", "chamber")
    val out = EntityResolution.resolveVoters(votes, people).orderBy("vote_id")
      .collect().map(r => (r.getAs[String]("person_id"), r.getAs[String]("match_type")))
    assert(out.toSeq == Seq(
      ("ocd-person/80f88c07-5f6d-5ca3-8121-9202259a50f2", "exact_last"),
      ("ocd-person/16a0a125-6ebe-58b3-810f-df10c0e7df1f", "fuzzy"),
      ("ocd-person/d7c97bc3-b7cb-585b-b9e3-def97fcb9db6", "fuzzy"),
      (null, "unmatched")))
  }

  test("entity resolution: a tie on fuzzy score goes to the lowest person_id") {
    val twins = senators(("p-2", "Tammy Baldwin", "Baldwin"),
      ("p-1", "Tammy Baldwin", "Baldwin"), ("p-3", "Tammy Baldwin", "Baldwin"))
    assert(resolveOne("Tammy Baldwn (D-WI)", twins) == ("p-1" -> "fuzzy"))
  }

  test("entity resolution: a vote whose state has no candidate stays " +
    "unmatched, with no fallback to other states") {
    // Baldwin sits for WI; the "(D-NY)" suffix blocks on NY, which has
    // no candidate, so neither pass may reach across to WI
    val votes = Seq((1L, "Baldwin (D-NY)", "upper"), (2L, "Tammy Baldwin (D-NY)", "upper"))
      .toDF("vote_id", "voter_name", "chamber")
    val out = EntityResolution.resolveVoters(votes, people).orderBy("vote_id").collect()
    assert(out.map(r => (r.getAs[String]("person_id"), r.getAs[String]("match_type"))).toSeq ==
      Seq((null, "unmatched"), (null, "unmatched")))
  }

  test("entity resolution: a null voter name is unmatched") {
    val votes = Seq((1L, null: String, "upper"), (2L, null: String, null: String))
      .toDF("vote_id", "voter_name", "chamber")
    val out = EntityResolution.resolveVoters(votes, people).orderBy("vote_id").collect()
    assert(out.map(r => (r.getAs[Long]("vote_id"), r.getAs[String]("person_id"),
      r.getAs[String]("match_type"), r.get(r.fieldIndex("score")))).toSeq ==
      Seq((1L, null, "unmatched", null), (2L, null, "unmatched", null)))
  }

  private val asOf = Timestamp.valueOf("2026-01-01 00:00:00")
  private def rolesDf(rows: (String, Seq[(String, String, String, String, String)])*) = {
    val data = rows.map { case (id, rs) =>
      (id, rs.map(r => Role(r._1, r._2, r._3, r._4, r._5)))
    }
    data.toDF("person_id", "roles")
  }

  test("role resolution: reference 4-case matrix + tie-breaks") {
    // reference: scripts/people/people_utils.py:24-84
    val df = rolesDf(
      // mayor skipped, contained interval wins
      "p1" -> Seq(
        ("mayor", "d0", "j", "2020-01-01", "2030-01-01"),
        ("upper", "d1", "j", "2020-01-01", "2030-01-01")),
      // single role returned unconditionally (even mayor)
      "p2" -> Seq(("mayor", "d2", "j", null, null)),
      // two fallbacks: LAST one wins (loop overwrites)
      "p3" -> Seq(
        ("upper", "d3a", "j", "2020-01-01", null),
        ("upper", "d3b", "j", null, null)),
      // out-of-range interval skipped; future-end-only returned
      "p4" -> Seq(
        ("upper", "d4a", "j", "2030-01-01", "2040-01-01"),
        ("upper", "d4b", "j", null, "2035-01-01")),
      // two contained intervals: FIRST wins (loop returns immediately)
      "p5" -> Seq(
        ("upper", "d5a", "j", "2020-01-01", "2030-01-01"),
        ("upper", "d5b", "j", "2019-01-01", "2031-01-01")),
      // nothing eligible -> dropped
      "p6" -> Seq(
        ("upper", "d6a", "j", "2000-01-01", "2001-01-01"),
        ("upper", "d6b", "j", null, "2001-01-01")))
    val out = RoleResolution.currentRoles(df, "person_id", asOf)
      .collect().map(r => r.getAs[String]("person_id") ->
        (r.getAs[String]("district"), r.getAs[String]("role_status"))).toMap
    assert(out("p1") == ("d1", "current"))
    assert(out("p2") == ("d2", "sole"))
    assert(out("p3") == ("d3b", "potential"))
    assert(out("p4") == ("d4b", "current"))
    assert(out("p5") == ("d5a", "current"))
    assert(!out.contains("p6"))
  }

  test("minhash pairs find planted near-dups and skip unrelated docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
      (3L, "totally different words about spark catalyst tungsten codegen shuffles"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text", k = 32, bands = 16, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash pairs: a 4-doc clique yields every C(4,2) pair exactly once") {
    // 3+ ids per bucket exercises the in-bucket combination arithmetic
    // (slice indexing), which 2-doc buckets cannot distinguish from
    // off-by-one variants; also pins strict a < b and no duplicates
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, s"$base one"), (3L, s"$base two"), (4L, s"$base three"))
      .toDF("doc_id", "text")
    val rows = Dedup.minHashPairs(docs, "doc_id", "text", k = 32, bands = 16, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "duplicate pairs emitted")
    assert(rows.forall(p => p._1 < p._2), "pair ordering violated")
    val expected = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toSet
    assert(rows.toSet == expected, s"got ${rows.toSet}")
  }

  test("sharedWindowPairs counts exact shared windows; minShared gates") {
    val run = (1 to 14).map(i => s"t$i").mkString(" ") // 14 tokens = 5 10-grams
    val docs = Seq(
      (1L, run),
      // doc 2 embeds doc 1's full run inside fresh text: partial
      // containment — shares all 5 of doc 1's windows
      (2L, s"pre1 pre2 pre3 $run post1 post2"),
      // doc 3 shares only the first 10 tokens = exactly 1 window
      (3L, (1 to 10).map(i => s"t$i").mkString(" ") + " zz1 zz2 zz3 zz4"),
      (4L, (1 to 14).map(i => s"u$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.sharedWindowPairs(docs, "doc_id", "text",
      window = 10, minShared = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.get((1L, 2L)).contains(5L), s"containment pair: $got")
    assert(!got.contains((1L, 3L)), "single shared window must not pass minShared=2")
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // minShared=1 admits the single-window pair with the exact count
    val loose = Dedup.sharedWindowPairs(docs, "doc_id", "text",
      window = 10, minShared = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(loose.get((1L, 3L)).contains(1L))
  }

  test("profile: exact stats, null counting, and approx within HLL error") {
    import org.apache.spark.sql.functions.col
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (3L, null),
      (null, "a"), (2L, "c")).toDF("k", "v")
    val rows = Profile.profile(df, Seq("k", "v"), approxDistinct = false)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(rows("k") == ((5L, 1L, 3L, "1", "3")))
    assert(rows("v") == ((5L, 1L, 3L, "a", "c")))
    // approx mode: same shape, distinct within HLL++ tolerance
    val approx = Profile.profile(df, Seq("k"), approxDistinct = true)
      .collect().head
    assert(math.abs(approx.getLong(3) - 3L) <= 1)
    intercept[IllegalArgumentException](Profile.profile(df, Seq("nope")))
    // quote/backtick names would corrupt the generated stack() SQL
    val weird = df.withColumnRenamed("k", "it's")
    intercept[IllegalArgumentException](Profile.profile(weird, Seq("it's")))
  }

  test("applyDedupBest keeps the highest-score member, ties to min id") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: 2 wins (tie 2/3 → min id)
      (7L, 0.1))                       // singleton: kept regardless of score
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val kept = Dedup.applyDedupBest(docs, "doc_id", pairs, col("score"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L), s"kept $kept")
    // contrast: min-id policy keeps doc 1
    val minId = Dedup.applyDedup(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 7L))
  }

  test("LshBucketMetrics captures over-cap bucket truncation") {
    val listener = LshBucketMetrics.install(spark)
    try {
      // 5 docs sharing one 2-word window, maxBucket=2 → truncated bucket
      val docs = (1 to 5).map(i => (i.toLong, s"shared window tail$i"))
        .toDF("doc_id", "text")
      Dedup.sharedWindowPairs(docs, "doc_id", "text",
        window = 2, minShared = 1, maxBucket = 2).collect()
      // listener events are async on the bus — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      var stats = listener.snapshot
      while (!stats.exists(_.overCapBuckets > 0) && System.nanoTime() < deadline) {
        Thread.sleep(100); stats = listener.snapshot
      }
      val hit = stats.filter(_.overCapBuckets > 0)
      assert(hit.nonEmpty, s"no over-cap bucket surfaced: $stats")
      assert(hit.exists(_.maxBucketRows == 5), s"max bucket rows: $hit")
    } finally spark.listenerManager.unregister(listener)
  }

  test("LSH kernels reject string ids loudly instead of emitting empty pairs") {
    // a string id would cast to null inside the long-only heap kernel
    // and every kernel would silently report "no duplicates"
    val docs = Seq(("doc-a", "alpha beta gamma delta epsilon zeta"),
      ("doc-b", "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.minHashPairs(docs, "doc_id", "text").collect())
    assert(e.getMessage.contains("integral id"))
  }

  test("applyDedupBest is deterministic for string ids (no negation tie-break)") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(("b", 0.9), ("a", 0.9), ("c", 0.1), ("z", 0.5))
      .toDF("doc_id", "score")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("a_id", "b_id")
    val kept = Dedup.applyDedupBest(docs, "doc_id", pairs, col("score"))
      .select("doc_id").as[String].collect().toSet
    assert(kept == Set("a", "z"), s"tie must break to min string id: $kept")
  }

  test("mixtureResample raises on a source with no weight row") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "src0"), (2L, "srcX")).toDF("doc_id", "source")
    val w = Seq(("src0", 2.0)).toDF("source", "weight")
    val e = intercept[Exception](
      Corpus.mixtureResample(docs, w, "source", "weight", "doc_id", "t:").collect())
    assert(e.getMessage.contains("no weight for source"), e.getMessage)
  }

  test("mixtureResample validates the weights spec: dup sources raise, extra columns don't leak") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "src0"), (2L, "src0")).toDF("doc_id", "source")
    // a duplicated source row would silently MULTIPLY that source's
    // docs through the join before the copy-count logic runs
    val dup = Seq(("src0", 2.0), ("src0", 3.0)).toDF("source", "weight")
    val e = intercept[Exception](
      Corpus.mixtureResample(docs, dup, "source", "weight", "doc_id", "t:").collect())
    assert(e.getMessage.contains("duplicate weight rows"), e.getMessage)

    val extra = Seq(("src0", 2.0, "leak-me")).toDF("source", "weight", "note")
    val out = Corpus.mixtureResample(docs, extra, "source", "weight", "doc_id", "t:")
    assert(!out.columns.contains("note"),
      s"weight-frame extras must not leak: ${out.columns.mkString(",")}")
    assert(out.filter(col("doc_id") === 1L).count() >= 2L) // weight 2 → ≥2 copies
  }

  test("weightedSample rejects a non-integral id column loudly") {
    import org.apache.spark.sql.functions.{col, lit}
    // a string id would cast to null inside the heap kernel and return
    // an EMPTY sample silently — the guard must fire before that
    val docs = Seq(("a", "g"), ("b", "g")).toDF("doc_id", "grp")
    val e = intercept[IllegalArgumentException](
      Corpus.weightedSample(docs, "grp", "doc_id", lit(1.0), 1, "t:"))
    assert(e.getMessage.contains("integral id"), e.getMessage)
  }

  test("bigramLmScore: exact Laplace micro-nat math; <2-token docs emit no row") {
    // ref model: tokens the,cat,sat,the,cat,ran → V=4;
    // c2: (the,cat)=2 (cat,sat)=1 (cat,ran)=1; c1: the=2, cat=2
    val ref = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "the cat"), // P(cat|the)=(2+1)/(2+4)=0.5 → -ln = 0.693147
      (11L, "dog dog"), // unseen: P=(0+1)/(0+4)   → -ln(0.25) = 1.386294
      (12L, "x"),       // no bigrams → no row
      (13L, "  "))      // whitespace-only → filtered before tokenizing
      .toDF("doc_id", "text")
    val got = Corpus.bigramLmScore(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(10L -> ((1L, 0.693147)), 11L -> ((1L, 1.386294))), got.toString)
  }

  test("bigramLmScore raises on an empty reference slice instead of scoring garbage") {
    // V=0 would make the smoothed probability 1/0 = +Inf and every
    // score collapse silently — the guard must fire
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Corpus.bigramLmScore(docs, docs.filter(col("doc_id") < 0), "doc_id", "text")
        .collect())
    assert(e.getMessage != null && e.getMessage.contains("reference slice has no tokens"),
      s"wrong error: ${e.getMessage}")
  }

  test("bigramLmScore: reference-like text scores lower than gibberish") {
    val ref = (1L to 50L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (100L, "the quick brown fox jumps"),
      (101L, "zx qv wk jj pq mn bb cc")).toDF("doc_id", "text")
    val nll = Corpus.bigramLmScore(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(nll(100L) < nll(101L), nll.toString)
  }

  test("rateSpikes flags a planted burst, warms up, and stays quiet on steady load") {
    // 30 steady hours of ~60 events (count 58-62), then one 300-event hour
    val steady = for {
      h <- 0 until 30
      i <- 0 until (58 + (h * 7) % 5)
    } yield (s"h$h-$i", new Timestamp(86400000L + h * 3600000L + i * 1000L), "ingest")
    val burst = (0 until 300).map(i =>
      (s"b-$i", new Timestamp(86400000L + 30 * 3600000L + i * 1000L), "ingest"))
    val events = (steady ++ burst).toDF("event_id", "ts", "event_type")
    val got = Monitoring.rateSpikes(events, col("ts"), col("event_type"))
      .orderBy(col("hour")).collect()
      .map(r => r.getTimestamp(1).getTime / 3600000L % 100 -> r.getString(3))
    val byHour = got.toMap
    assert(got.take(12).forall(_._2 == "warmup"), got.take(13).mkString(","))
    assert((12 until 30).forall(h => byHour(h + 24) == "ok"), got.mkString(","))
    assert(byHour(30 + 24) == "spike", got.mkString(","))
  }

  test("embeddingDrift flags the planted per-dim shift and stays flat elsewhere") {
    // dim 0 identical across waves; dim 1 shifted by +0.5 in the current
    // wave; dim 2 identical constants (zero variance → z null, shift 0)
    def wave(shift: Double) = (0 until 100).map { i =>
      (i.toLong, Seq((0.001 * (i % 50)).toFloat,
        (0.001 * (i % 50) + shift).toFloat, 0.25f))
    }
    val ref = wave(0.0).toDF("vec_id", "embedding")
    val cur = wave(0.5).toDF("vec_id", "embedding")
    val got = Monitoring.embeddingDrift(ref, cur, "embedding")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got(0)._1 == 0L, s"dim 0 drifted: ${got(0)}")
    assert(got(1)._1 == 500000L, s"dim 1 shift wrong: ${got(1)}")
    assert(got(1)._2.exists(_ > 10000L), s"dim 1 z too small: ${got(1)}")
    assert(got(2)._1 == 0L && got(2)._2.isEmpty,
      s"constant dim must report zero shift and null z: ${got(2)}")
    // self-drift is identically zero
    val self = Monitoring.embeddingDrift(ref, ref, "embedding").collect()
    assert(self.forall(r => r.getLong(3) == 0L), "self-comparison must not drift")
  }

  test("brute-force topk: self is rank-1 with score 1") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out(0).getAs[Long]("neighbor_id") == 1L && out(0).getAs[Double]("score") == 1.0)
    assert(out(1).getAs[Long]("neighbor_id") == 2L)
  }

  test("integrityAudit: orphans, dup keys, nulls — planted violations counted") {
    val parent = Seq((1L, "a"), (2L, "b")).toDF("pk", "pv")
    val child = Seq(
      (10L, 1L), (11L, 2L), (12L, 99L), // 99 is an orphan
      (13L, 1L)).toDF("ck", "fk")
    val nullFk = Seq((20L, Option.empty[Long])).toDF("ck", "fk")
    val dupped = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val out = Profile.integrityAudit(Seq(
      "child_fk" -> Profile.orphans(child, parent, Seq("fk" -> "pk")),
      "null_fk_not_orphan" -> Profile.orphans(nullFk, parent, Seq("fk" -> "pk")),
      "dup_pk" -> Profile.duplicateKeys(dupped, Seq("k")),
      "v_not_null" -> Profile.nullViolations(nullFk, Seq("fk"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map(
      "child_fk" -> 1L,          // only 99
      "null_fk_not_orphan" -> 0L, // null FK is "no reference", not an orphan
      "dup_pk" -> 1L,            // one duplicated key VALUE
      "v_not_null" -> 1L), out.toString)
  }

  test("collocations: strongly-associated pair outranks frequent-but-independent") {
    // "san francisco" always co-occurs; "the" pairs with everything
    val docs = (1L to 10L).map(i => (i, s"the cat the dog item$i san francisco"))
      .toDF("doc_id", "text")
    val out = Corpus.collocations(docs, "text", minSupport = 5L, topK = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.head._1 == "san" && out.head._2 == "francisco", out.mkString(", "))
    assert(out.head._3 == 10L)
    // hand-check the micro-nat PMI: p(san,francisco)=10/60 bigrams,
    // p(san)=p(francisco)=10/70 tokens — in the op's exact term order
    val expect = math.floor((math.log(10) - math.log(60) - math.log(10)
      + math.log(70) - math.log(10) + math.log(70)) * 1e6 + 0.5) / 1e6
    assert(out.head._4 === expect, s"${out.head._4} vs $expect")
  }

  test("collocations: min support filters hapax pairs") {
    val docs = Seq((1L, "aa bb aa bb aa bb aa bb aa bb rare pair"))
      .toDF("doc_id", "text")
    val out = Corpus.collocations(docs, "text", minSupport = 2L, topK = 10)
      .collect()
    assert(out.forall(_.getLong(2) >= 2L), "pairs below support leaked")
    assert(!out.exists(r => r.getString(0) == "rare"), "hapax pair leaked")
  }

  test("filterFunnel: cumulative AND semantics, stages monotone non-increasing") {
    val docs = Seq(
      (1L, "pass pass"),   // passes both stages
      (2L, "short"),       // fails stage 2 (len < 8)
      (3L, ""))            // fails stage 1
      .toDF("doc_id", "text")
    val out = Corpus.filterFunnel(docs, Seq(
      "nonempty" -> (length(trim(col("text"))) > 0),
      "len_ge_8" -> (length(col("text")) >= 8)))
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out === Seq((1, "nonempty", 2L), (2, "len_ge_8", 1L)), out.mkString(", "))
  }

  test("filterFunnel rejects duplicate stage names") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Corpus.filterFunnel(docs, Seq("a" -> lit(true), "a" -> lit(false))))
    intercept[IllegalArgumentException](
      Corpus.filterFunnel(docs, Nil))
  }

  test("dsirWeights: target == raw corpus scores identically zero (both modes)") {
    // ct == cr and nt == nr per feature, so every micro-nat log-ratio
    // term cancels EXACTLY — a partitioning-independent invariant
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "a dog ran far away"))
      .toDF("doc_id", "text")
    for (buckets <- Seq(None, Some(64))) {
      val out = Corpus.dsirWeights(docs, docs, "doc_id", "text", buckets)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(out == Map(1L -> 0.0, 2L -> 0.0), s"buckets=$buckets: $out")
    }
  }

  test("dsirWeights: target-like docs outrank off-target docs (both modes)") {
    val target = (1L to 20L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (100L, "the quick brown fox jumps"),
      (101L, "zx qv wk jj pq mn bb cc"),
      (102L, "lorem ipsum dolor sit amet")).toDF("doc_id", "text")
    for (buckets <- Seq(None, Some(1 << 16))) {
      val w = Corpus.dsirWeights(raw, target, "doc_id", "text", buckets)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(w(100L) > w(101L) && w(100L) > w(102L), s"buckets=$buckets: $w")
    }
  }

  test("dsirWeights raises on an empty target slice instead of ranking noise") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Corpus.dsirWeights(docs, docs.filter(col("doc_id") < 0), "doc_id", "text")
        .collect())
    assert(e.getMessage != null && e.getMessage.contains("no bigram features"),
      s"wrong error: ${e.getMessage}")
  }
}

case class Role(`type`: String, district: String, jurisdiction: String,
  start_date: String, end_date: String)
