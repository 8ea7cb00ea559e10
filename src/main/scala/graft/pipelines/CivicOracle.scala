package graft.pipelines

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-grounded civic pipeline stages (round 14 — VERDICT r13
  * next-round #5: "unify the no_oracle civic arms with partial
  * oracles"). q219's six fingerprint rows hash with Spark's xxhash64,
  * which DuckDB cannot reproduce — that composite stays golden-pinned
  * BY NECESSITY, recorded here. What IS DuckDB-expressible is the
  * stage SEMANTICS over pinned fixture content: these two queries run
  * the real source parsers (S3 YAML, S2 JSON-docs) and stage kernels
  * (W2 role resolution, J2 bill⇄vote semi/anti join, F14 pseudo-JSON,
  * F16 digit normalization) over fixtures whose raw values are
  * duplicated as VALUES literals in the DuckDB twin — the oracle
  * independently recomputes the transformation, so a parser or kernel
  * regression (and any silent fixture drift) fails the hash compare
  * instead of just moving a golden.
  *
  * The people fixture is deliberately RICHER than q219's (which keeps
  * its two sole-role persons so its golden stands): it plants one
  * person per RoleResolution branch — mayor-skip, definite-window win,
  * first-position tie-break among definites, LAST-position overwrite
  * among fallbacks, priority-0 exclusion, and the at-large alias —
  * the reference loop-order semantics q09 verifies only on synthetic
  * shapes (reference: scripts/people/people_utils.py:9-84).
  *
  * Same eager-materialize-then-delete contract as [[CivicE2e]]: the
  * returned frame is a collected LocalRelation, never a plan over the
  * deleted temp fixture files. */
object CivicOracle {
  import Fixtures.write

  /** The asOf instant every date in the fixtures is positioned around
    * (matches q219's reference date). */
  val AsOf: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")

  /** W2/S3 stage: YAML people → current-role resolution → chamber +
    * constituent/jurisdiction area derivation. One person per
    * resolution branch; output is the plain-scalar projection the
    * DuckDB twin recomputes from the same role rows. */
  def peopleResolved(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fixtures.collectedUnder(spark, "civic_oracle_people") { root =>
      // sole-role persons (reference :24-25 — returned unconditionally)
      write(root, "baldwin.yml",
        """id: ocd-person/baldwin
          |name: Tammy Baldwin
          |given_name: Tammy
          |family_name: Baldwin
          |roles:
          |  - type: upper
          |    district: Wisconsin
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2023-01-03'
          |    end_date: '2029-01-03'
          |""".stripMargin)
      // mayor-skip + definite-window win (priority 2 beats the
      // start-only fallback regardless of position)
      write(root, "casey.yml",
        """id: ocd-person/casey
          |name: Bob Casey
          |given_name: Bob
          |family_name: Casey
          |roles:
          |  - type: mayor
          |    district: Scranton
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2020-01-01'
          |    end_date: '2030-01-01'
          |  - type: lower
          |    district: PA-2
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2023-01-03'
          |    end_date: '2027-01-03'
          |  - type: upper
          |    district: Pennsylvania
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2021-01-03'
          |""".stripMargin)
      // two start-only fallbacks: the LAST array position wins
      // (reference :60-64,79-81 — later entries overwrite), status
      // potential (no definite role)
      write(root, "shapiro.yml",
        """id: ocd-person/shapiro
          |name: Josh Shapiro
          |given_name: Josh
          |family_name: Shapiro
          |roles:
          |  - type: lower
          |    district: PA-3
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2019-01-03'
          |  - type: upper
          |    district: Pennsylvania
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2025-01-03'
          |""".stripMargin)
      // priority-0 exclusion (window in the past) + end-only FUTURE
      // role returned as definite (reference :67-73)
      write(root, "ward.yml",
        """id: ocd-person/ward
          |name: Kim Ward
          |given_name: Kim
          |family_name: Ward
          |roles:
          |  - type: lower
          |    district: PA-4
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2015-01-03'
          |    end_date: '2019-01-03'
          |  - type: upper
          |    district: Pennsylvania
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    end_date: '2029-01-03'
          |""".stripMargin)
      // two definite windows: the FIRST array position wins (the
      // reference loop returns immediately on a definite hit :53-55)
      write(root, "dual.yml",
        """id: ocd-person/dual
          |name: Dana Dual
          |given_name: Dana
          |family_name: Dual
          |roles:
          |  - type: upper
          |    district: Pennsylvania
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2023-01-03'
          |    end_date: '2029-01-03'
          |  - type: lower
          |    district: PA-5
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2023-01-03'
          |    end_date: '2029-01-03'
          |""".stripMargin)
      // at-large alias (F17: "AL" → at-large) through the lower branch
      write(root, "general.yml",
        """id: ocd-person/general
          |name: Pat General
          |given_name: Pat
          |family_name: General
          |roles:
          |  - type: lower
          |    district: MT-AL
          |    jurisdiction: ocd-jurisdiction/country:us/government
          |    start_date: '2023-01-03'
          |    end_date: '2027-01-03'
          |""".stripMargin)
      val stateNames = Seq(("Wisconsin", "WI"), ("Pennsylvania", "PA"),
        ("Montana", "MT")).toDF("state_name", "abbreviation")
      val people = CivicPipeline.peopleFromYaml(
        spark, s"$root/*.yml", AsOf, stateNames)
      people.select("id", "name", "given_name", "family_name", "chamber",
          "role_status", "constituent_area_id", "jurisdiction_area_id")
        .orderBy("id")
    }
  }

  /** J2/S2/F14/F16 stage: JSON-doc vote events joined to bills on
    * (bill_identifier, session) — kept events keep their vote arrays
    * (per-option counts prove it), orphans route to the dropped stream.
    * The voter-RESOLUTION step (J1 fuzzy WRatio) is deliberately not in
    * the output: its kernel has no SQL twin (q14 grounds it on
    * testdata); option counts and routing are resolution-independent. */
  def voteJoin(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fixtures.collectedUnder(spark, "civic_oracle_votes") { root =>
      write(root, "bill_0001.json",
        """{
          |  "identifier": "HB 102",
          |  "title": "An Act",
          |  "legislative_session": "119th",
          |  "from_organization": "~{\"classification\": \"upper\"}",
          |  "actions": [
          |    {"date": "2025-01-09T00:00:00+00:00", "description": "introduced"}
          |  ]
          |}""".stripMargin)
      write(root, "vote_event_0001.json",
        """{
          |  "identifier": "roll-22",
          |  "legislative_session": "119",
          |  "motion_text": "passage",
          |  "start_date": "2025-03-01T12:00:00+00:00",
          |  "result": "pass",
          |  "bill": "~{\"identifier\": \"HB 102\"}",
          |  "organization": "~{\"classification\": \"upper\"}",
          |  "votes": [
          |    {"option": "yes", "voter_name": "Baldwin (D-WI)",
          |     "voter_id": "", "note": ""},
          |    {"option": "yes", "voter_name": "Casey (D-PA)",
          |     "voter_id": "", "note": ""},
          |    {"option": "no", "voter_name": "Fitzpatrick",
          |     "voter_id": "", "note": ""}
          |  ]
          |}""".stripMargin)
      // empty votes array: the rebuild join is LEFT — an inner join
      // would silently drop the whole event (the q219 regression class)
      write(root, "vote_event_0002.json",
        """{
          |  "identifier": "roll-23",
          |  "legislative_session": "119",
          |  "motion_text": "procedural",
          |  "start_date": "2025-03-02T12:00:00+00:00",
          |  "result": "pass",
          |  "bill": "~{\"identifier\": \"HB 102\"}",
          |  "organization": "~{\"classification\": \"upper\"}",
          |  "votes": []
          |}""".stripMargin)
      // orphan: no bill HB 999 exists → dropped stream
      write(root, "vote_event_0003.json",
        """{
          |  "identifier": "roll-99",
          |  "legislative_session": "119",
          |  "motion_text": "orphan",
          |  "start_date": "2025-03-03T12:00:00+00:00",
          |  "result": "fail",
          |  "bill": "~{\"identifier\": \"HB 999\"}",
          |  "organization": "~{\"classification\": \"upper\"}",
          |  "votes": []
          |}""".stripMargin)
      val bills = CivicPipeline.billsFromJsonDocs(
        spark, root.toString, "ocd-division/country:us")
      val matchPeople = Seq(
        ("ocd-person/baldwin", "Tammy Baldwin", "Tammy", "Baldwin",
          "ocd-division/country:us/state:wi", "Senate"),
        ("ocd-person/fitzpatrick", "Brian Fitzpatrick", "Brian", "Fitzpatrick",
          "ocd-division/country:us/state:pa/cd:1", "House"))
        .toDF("id", "name", "first_name", "last_name",
          "constituent_area_id", "chamber")
      val (kept, dropped) = CivicPipeline.voteEventsFromJsonDocs(
        spark, root.toString, bills, matchPeople)
      val keptRows = kept.select(
        col("identifier"), col("session"), col("motion_text"),
        col("result"), col("chamber"), lit("kept").as("routed"),
        size(col("votes")).cast("long").as("n_votes"),
        size(filter(col("votes"), v => v.getField("option") === "yes"))
          .cast("long").as("n_yes"),
        size(filter(col("votes"), v => v.getField("option") === "no"))
          .cast("long").as("n_no"))
      val droppedRows = dropped.select(
        col("identifier"), col("session"),
        lit(null).cast("string").as("motion_text"),
        lit(null).cast("string").as("result"),
        lit(null).cast("string").as("chamber"),
        lit("dropped").as("routed"),
        lit(0L).as("n_votes"), lit(0L).as("n_yes"), lit(0L).as("n_no"))
      keptRows.unionByName(droppedRows).orderBy("identifier")
    }
  }
}
