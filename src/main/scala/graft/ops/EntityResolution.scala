package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Blocked fuzzy entity resolution: match raw vote records to canonical
  * person rows (reference: scripts/bills/vote_matching.py:88-212).
  *
  * Reference decision order, reproduced per vote:
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
  * Scale design: the candidate side is one [[roster]] row — every
  * legislator, sorted by person_id, bounded by seat count — broadcast
  * to the votes, and [[ResolveVote]] runs the walk above inside each
  * vote's row. Votes, the big side, are never exploded, shuffled,
  * windowed or regrouped; a vote event resolves its whole ballot array
  * in place (see `CivicPipeline.voteEventsFromJsonDocs`).
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

  /** One row, one column `roster`: every candidate of
    * [[prepareCandidates]] with the fields [[ResolveVote]] reads, its
    * full and last names lowercased by Spark's `lower` (`cand_name_lc`,
    * `cand_last_lc`), sorted by person_id — the walk order. Broadcast it
    * to the votes. */
  def roster(people: DataFrame): DataFrame =
    prepareCandidates(people)
      .agg(sort_array(collect_list(struct(col("person_id"), col("cand_name"),
        col("cand_first_last"), col("cand_state"), col("cand_chamber"),
        lower(col("cand_name")).as("cand_name_lc"),
        lower(col("cand_last")).as("cand_last_lc")))).as("roster"))

  /** The match of one vote against `roster` (the column of [[roster]]):
    * `struct(person_id, match_type, score)`, null when unmatched.
    * Vote side: the raw voter name, whose "(D-WI)" suffix gives the
    * state, and the chamber ("lower"/"upper"/other). Plain columns, so
    * it also runs inside a `transform` over a vote event's ballots. */
  def matchVoter(roster: Column, voterName: Column, chamber: Column,
      threshold: Int = 80): Column = {
    val clean = standardizeName(voterName)
    resolveVote(roster, clean, lower(clean), stateFromName(voterName),
      when(chamber === "lower", "House").when(chamber === "upper", "Senate"),
      threshold)
  }

  /** Resolve votes → person ids. Expects: vote_id, voter_name, chamber.
    * One row per input vote: (vote_id, person_id nullable, match_type ∈
    * exact_full | exact_last | fuzzy | unmatched, score).
    *
    * Each vote meets the one-row [[roster]] through a broadcast cross
    * join, and [[ResolveVote]] walks it: the exact pass in person_id
    * order, then — only when nothing hit exactly, as in the reference —
    * the best WRatio score, ties to the lowest person_id, accepted at
    * `threshold`. Unmatched votes survive as a queryable warning stream
    * (the reference logs-and-drops, :265-266). */
  def resolveVoters(votes: DataFrame, people: DataFrame, threshold: Int = 80): DataFrame =
    votes.crossJoin(broadcast(roster(people)))
      .select(col("vote_id"), matchVoter(col("roster"), col("voter_name"),
        col("chamber"), threshold).as("m"))
      .select(col("vote_id"), col("m.person_id").as("person_id"),
        coalesce(col("m.match_type"), lit("unmatched")).as("match_type"),
        col("m.score").as("score"))
}
