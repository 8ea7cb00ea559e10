package graft.ops

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase
import graft.functions._

/** The set-wise formulation of J1 that [[EntityResolution.resolveVoters]]
  * used before the per-vote kernel: both blocking branches joined to the
  * candidates, one ranked window over each vote's candidates (exact hits
  * first, then score descending, then person_id), the top row kept if it
  * hit exactly or reached `threshold`. Kept as the oracle the kernel is
  * checked against. */
object SetWiseResolution {
  import EntityResolution.prepareCandidates

  def prepareVotes(votes: DataFrame): DataFrame =
    votes.select(
      col("vote_id"),
      col("voter_name"),
      standardizeName(col("voter_name")).as("clean_name"),
      stateFromName(col("voter_name")).as("vote_state"),
      when(col("chamber") === "lower", "House")
        .when(col("chamber") === "upper", "Senate").as("chamber_mapped"))

  def resolveVoters(votes: DataFrame, people: DataFrame, threshold: Int = 80): DataFrame = {
    val cands = prepareCandidates(people)
    val v = prepareVotes(votes)

    val chamberOk = col("chamber_mapped").isNull || col("chamber_mapped") === col("cand_chamber")
    val withState = v.filter(col("vote_state") =!= "")
      .join(broadcast(cands), col("vote_state") === col("cand_state"))
      .filter(chamberOk)
    val noState = v.filter(col("vote_state") === "")
      .crossJoin(broadcast(cands))
      .filter(chamberOk)
    val candidates = withState.unionByName(noState)

    val cleanLc = lower(col("clean_name"))
    val fullHit = cleanLc === lower(col("cand_name")) && col("cand_name") =!= ""
    val lastHit = cleanLc === lower(col("cand_last")) && col("cand_last") =!= ""
    val fuzzyScore = greatest(
      wRatio(col("clean_name"), col("cand_first_last")),
      wRatio(col("clean_name"), col("cand_name")))

    val perVote = Window.partitionBy(col("vote_id"))
    val ranked = perVote.orderBy(col("exact_hit").desc, col("score").desc, col("person_id"))
    val matched = candidates
      .withColumn("exact_hit", coalesce(fullHit || lastHit, lit(false)))
      .withColumn("score", when(col("exact_hit"), lit(100))
        .when(!max(col("exact_hit")).over(perVote), fuzzyScore))
      .withColumn("rn", row_number().over(ranked))
      .filter(col("rn") === 1 && (col("exact_hit") || col("score") >= threshold))
      .select(col("vote_id"), col("person_id"),
        when(!col("exact_hit"), "fuzzy").when(fullHit, "exact_full")
          .otherwise("exact_last").as("match_type"),
        col("score"))

    votes.select("vote_id").join(matched, Seq("vote_id"), "left")
      .withColumn("match_type", coalesce(col("match_type"), lit("unmatched")))
  }
}

/** [[ResolveVote]] against [[SetWiseResolution]] on seeded random
  * rosters and votes. */
class ResolveVoteSpec extends SparkTestBase {
  import spark.implicits._

  // small name pools, so that names repeat across person ids and
  // one-letter typos land on both sides of the threshold
  private val given = Seq("Tammy", "Katherine", "Bob", "Ann", "Anna", "Kim", "", null)
  private val family = Seq("Baldwin", "Baldwn", "Montgomery", "Casey", "Case",
    "Ward", "Wardell", "Smith", "", null)
  private val areas = Seq("ocd-division/country:us/state:wi",
    "ocd-division/country:us/state:pa/cd:2", "ocd-division/country:us/state:pa",
    "ocd-division/country:us/district:dc", "no-state-here", null)
  private val chambers = Seq("House", "Senate", "Senate", null)

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private def typo(r: Random, s: String): String =
    if (s.length < 2) s else {
      val i = r.nextInt(s.length)
      s.substring(0, i) + pick(r, Seq("", "x", s.substring(i, i + 1) * 2)) + s.substring(i + 1)
    }

  /** (id, name, first_name, last_name, constituent_area_id, chamber);
    * person ids are distinct, names repeat. */
  private def roster(r: Random): Seq[(String, String, String, String, String, String)] =
    r.shuffle((1 to 2 + r.nextInt(14)).toList).map { i =>
      val first = pick(r, given)
      val last = pick(r, family)
      val name = r.nextInt(5) match {
        case 0 => null
        case 1 => last
        case _ => Seq(first, last).filter(x => x != null && x.nonEmpty).mkString(" ")
      }
      (f"p-$i%02d", name, first, last, pick(r, areas), pick(r, chambers))
    }

  private def voterName(r: Random, cands: Seq[(String, String, String, String, String, String)])
      : String = {
    val (_, name, first, last, _, _) = pick(r, cands)
    val base = Option(r.nextInt(6) match {
      case 0 => name
      case 1 => last
      case 2 => typo(r, Option(name).getOrElse(""))
      case 3 => Option(last).map(_.toUpperCase).orNull
      case 4 => Seq(first, typo(r, Option(last).getOrElse(""))).filter(_ != null).mkString(" ")
      case _ => pick(r, Seq("", "Zzyzx Qwerty", "Báldwin", "Tammy  Baldwin "))
    }).getOrElse("")
    r.nextInt(8) match {
      case 0 => null
      case 1 | 2 => base
      case 3 => s"$base (D-PA)"
      case 4 => s"$base (R-NY)" // no candidate sits for NY
      case 5 => s"$base (I-DC)"
      case _ => s"$base (D-WI)"
    }
  }

  private def rows(df: DataFrame) =
    df.select(col("vote_id"), col("person_id"), col("match_type"), col("score"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).sortBy(_._1).toSeq

  test("the per-vote kernel equals the set-wise formulation on random " +
    "rosters and votes") {
    val r = new Random(20261019L)
    var seen = Map.empty[String, Int]
    (1 to 12).foreach { trial =>
      val cands = roster(r)
      val people = cands.toDF("id", "name", "first_name", "last_name",
        "constituent_area_id", "chamber")
      val votes = (1 to 60).map(i => (i.toLong, voterName(r, cands),
        pick(r, Seq("upper", "lower", "other", null))))
        .toDF("vote_id", "voter_name", "chamber")
      val threshold = pick(r, Seq(80, 80, 79, 90))
      val want = rows(SetWiseResolution.resolveVoters(votes, people, threshold))
      val got = rows(EntityResolution.resolveVoters(votes, people, threshold))
      assert(got == want, s"trial $trial: roster $cands")
      got.groupBy(_._3).foreach { case (t, xs) => seen += t -> (seen.getOrElse(t, 0) + xs.size) }
    }
    // every decision path was exercised
    assert(Seq("exact_full", "exact_last", "fuzzy", "unmatched").forall(seen.contains), seen)
  }

  test("fuzzy ties, and scores of 79 and 80 at the threshold, match the " +
    "set-wise formulation") {
    def ws(a: String, b: String) =
      WRatio.score(UTF8String.fromString(a), UTF8String.fromString(b))
    // twins: the same name under three ids, so every score ties
    val twins = Seq("p-3", "p-1", "p-2").map(id =>
      (id, "Tammy Baldwin", "Tammy", "Baldwin", "ocd-division/country:us/state:wi", "Senate"))
    val people = (twins :+ ("p-4", "Katherine Montgomery", "Katherine", "Montgomery",
      "ocd-division/country:us/state:wi", "Senate"))
      .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")
    // "Montgomry" and "Kate Montgomefy" score 80, "Baldwcin" and
    // "Kate Montgery" 79
    val voters = Seq("Tammy Baldwn (D-WI)", "Tammy Baldwn", "Montgomry",
      "Kate Montgomefy", "Baldwcin", "Kate Montgery (D-WI)", "Tamy Baldwn")
    val votes = voters.zipWithIndex.map { case (v, i) => (i.toLong, v, "upper") }
      .toDF("vote_id", "voter_name", "chamber")
    // the best score of each vote against the roster's name variants
    val best = voters.map { v =>
      val clean = v.replaceAll("\\(.*?\\)", "").trim
      (twins.map(t => (t._2, s"${t._3} ${t._4}")) :+
        ("Katherine Montgomery", "Katherine Montgomery"))
        .map { case (n, fl) => math.max(ws(clean, n), ws(clean, fl)) }.max
    }
    assert(best.contains(79) && best.contains(80), best)
    Seq(79, 80, 81).foreach { threshold =>
      val want = rows(SetWiseResolution.resolveVoters(votes, people, threshold))
      assert(rows(EntityResolution.resolveVoters(votes, people, threshold)) == want)
    }
    val tied = rows(EntityResolution.resolveVoters(votes, people)).head
    assert(tied == ((0L, Some("p-1"), "fuzzy", Some(ws("Tammy Baldwn", "Tammy Baldwin")))))
  }
}
