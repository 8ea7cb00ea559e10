package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Blocked fuzzy entity resolution: match raw vote records to canonical
  * person rows (reference: scripts/bills/vote_matching.py:88-212).
  *
  * Reference decision order, reproduced set-wise:
  *   - standardize the voter name: strip "(…)", trim, de-accent (:95-103);
  *   - block on state when the vote carries one (:193-196) and on
  *     chamber only for lower/upper (→ House/Senate, :199-206);
  *   - exact pass (:124-135): walk candidates, first person whose full
  *     name OR last name equals the standardized name case-insensitively
  *     wins — person order, not full-name-first; we make the walk
  *     deterministic by ordering on person_id;
  *   - fuzzy pass (:140-168): WRatio over each candidate's name variants
  *     ("first last", raw name), best score ≥ threshold (80, :178) wins.
  *
  * Scale design: people (candidate side) broadcasts in every stage; the
  * state-blocked path is an equi-join on state, the rare no-state path a
  * broadcast nested-loop against the (small) people table — votes, the
  * big side, never shuffles except for the per-vote top-1 window, which
  * partitions on vote_id (even, high-cardinality). Each blocking branch
  * is joined once: one window over a vote's candidates holds both
  * passes (see [[resolveVoters]]).
  */
object EntityResolution {

  /** Candidate side. Expects: id, name, first_name, last_name,
    * constituent_area_id, chamber ("House"/"Senate"/other). */
  def prepareCandidates(people: DataFrame): DataFrame =
    people.select(
      col("id").as("person_id"),
      coalesce(col("name"), lit("")).as("cand_name"),
      trim(concat_ws(" ", coalesce(col("first_name"), lit("")),
        coalesce(col("last_name"), lit("")))).as("cand_first_last"),
      coalesce(col("last_name"), lit("")).as("cand_last"),
      stateFromAreaId(col("constituent_area_id")).as("cand_state"),
      col("chamber").as("cand_chamber"))

  /** Vote side. Expects: vote_id, voter_name, chamber ("lower"/"upper"/
    * other); state is derived from the "(D-WI)" name suffix. */
  def prepareVotes(votes: DataFrame): DataFrame =
    votes.select(
      col("vote_id"),
      col("voter_name"),
      standardizeName(col("voter_name")).as("clean_name"),
      stateFromName(col("voter_name")).as("vote_state"),
      when(col("chamber") === "lower", "House")
        .when(col("chamber") === "upper", "Senate").as("chamber_mapped"))

  /** Resolve votes → person ids. One row per input vote: (vote_id,
    * person_id nullable, match_type ∈ exact_full | exact_last | fuzzy |
    * unmatched, score).
    *
    * Both passes are one ranked window over each vote's candidates:
    * exact hits first (an exact hit scores 100 and beats any fuzzy
    * score), then score descending, then person_id. The top row wins if
    * it is an exact hit or its score reaches `threshold`. WRatio is
    * computed only for votes with no exact-hit candidate (`max` of the
    * hit flag over the same partition), as in the reference, where the
    * fuzzy pass runs only after the exact walk found nothing. */
  def resolveVoters(votes: DataFrame, people: DataFrame, threshold: Int = 80): DataFrame = {
    val cands = prepareCandidates(people)
    val v = prepareVotes(votes)

    val chamberOk = col("chamber_mapped").isNull || col("chamber_mapped") === col("cand_chamber")
    // blocked path: equi-join on state; no-state votes compare to all
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
    // WRatio over the name variants; CASE WHEN evaluates it only for
    // the rows of votes that have no exact hit
    val fuzzyScore = greatest(
      wRatio(col("clean_name"), col("cand_first_last")),
      wRatio(col("clean_name"), col("cand_name")))

    val perVote = Window.partitionBy(col("vote_id"))
    val ranked = perVote.orderBy(col("exact_hit").desc, col("score").desc, col("person_id"))
    val matched = candidates
      // a null name is no exact hit; it goes to the fuzzy branch
      .withColumn("exact_hit", coalesce(fullHit || lastHit, lit(false)))
      .withColumn("score", when(col("exact_hit"), lit(100))
        .when(!max(col("exact_hit")).over(perVote), fuzzyScore))
      .withColumn("rn", row_number().over(ranked))
      .filter(col("rn") === 1 && (col("exact_hit") || col("score") >= threshold))
      .select(col("vote_id"), col("person_id"),
        when(!col("exact_hit"), "fuzzy").when(fullHit, "exact_full")
          .otherwise("exact_last").as("match_type"),
        col("score"))

    // unmatched votes survive as a queryable warning stream
    // (the reference logs-and-drops, :265-266)
    votes.select("vote_id").join(matched, Seq("vote_id"), "left")
      .withColumn("match_type", coalesce(col("match_type"), lit("unmatched")))
  }
}
