package graft.pipelines

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{GenerateExec, LogicalRDD}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.{GeoFunctions, GeoJson}
import graft.ops.QueryMetrics
import graft.streaming.EventPipeline

/** End-to-end pipeline tests over reference-shaped fixtures (SURVEY §3,
  * FIXTURES.md) — the Spark analog of the reference's only executable
  * fixture (vote_matching.main). */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val stateFips =
    Seq(("42", "PA", "Pennsylvania")).toDF("fips", "abbreviation", "name")
  private lazy val stateNames =
    Seq(("Wisconsin", "WI"), ("Pennsylvania", "PA")).toDF("state_name", "abbreviation")

  test("areas pipeline: shapefile -> OCD ids + WKB geometry") {
    val areas = CivicPipeline.areasFromShapefile(
      spark, "src/test/resources/shp/districts.shp", stateFips)
    val rows = areas.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("id")).toSeq == Seq(
      "ocd-division/country:us/state:pa/cd:1",
      "ocd-division/country:us/state:pa/cd:2"))
    assert(GeoJson.fromWkb(rows(0).getAs[Array[Byte]]("geometry")).getArea == 15.0)
  }

  private def writePeopleFixtures(dir: String): Unit = {
    Files.writeString(Paths.get(dir, "baldwin.yml"),
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
    Files.writeString(Paths.get(dir, "rep.yml"),
      """id: ocd-person/fitzpatrick
        |name: Brian Fitzpatrick
        |given_name: Brian
        |family_name: Fitzpatrick
        |roles:
        |  - type: lower
        |    district: PA-1
        |    jurisdiction: ocd-jurisdiction/country:us/government
        |    start_date: '2023-01-03'
        |    end_date: '2027-01-03'
        |""".stripMargin)
  }

  test("people pipeline: YAML -> current role -> constituent area ids") {
    val dir = Files.createTempDirectory("people").toString
    writePeopleFixtures(dir)
    val people = CivicPipeline.peopleFromYaml(spark, s"$dir/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), stateNames)
    val byId = people.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId("ocd-person/baldwin").getAs[String]("constituent_area_id")
      == "ocd-division/country:us/state:wi")
    assert(byId("ocd-person/baldwin").getAs[String]("chamber") == "Senate")
    assert(byId("ocd-person/fitzpatrick").getAs[String]("constituent_area_id")
      == "ocd-division/country:us/state:pa/cd:1")
    assert(byId("ocd-person/fitzpatrick").getAs[String]("jurisdiction_area_id")
      == "ocd-division/country:us")
  }

  private def writeStatePerson(root: String, state: String, file: String,
      id: String, roleType: String, district: String,
      juris: String = "ocd-jurisdiction/country:us/state:xx/government"): Unit = {
    val d = Paths.get(root, state, "legislature")
    Files.createDirectories(d)
    Files.writeString(d.resolve(file),
      s"""id: ocd-person/$id
         |name: Person $id
         |given_name: P
         |family_name: $id
         |roles:
         |  - type: $roleType
         |    district: "$district"
         |    jurisdiction: ${juris.replace("xx", state)}
         |    start_date: '2023-01-03'
         |    end_date: '2029-01-03'
         |""".stripMargin)
  }

  private lazy val maMapping = Seq(
    ("ma", "upper", "Cape and Islands", "ocd-division/country:us/state:ma/sldu:d40"),
    ("ma", "special", "Special Seat", "ocd-division/country:us/state:ma/sldl:special1"))
    .toDF("state", "chamber", "district_name", "area_id")

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  test("state people pipeline: MA/NE/ID/DC branches, territory + tribal skips") {
    val dir = Files.createTempDirectory("statepeople").toString
    writeStatePerson(dir, "ma", "sen.yml", "ma-sen", "upper", "Cape and Islands")
    writeStatePerson(dir, "ma", "spec.yml", "ma-spec", "lower", "Special Seat")
    writeStatePerson(dir, "ne", "leg.yml", "ne-leg", "legislature", "23")
    writeStatePerson(dir, "id", "rep.yml", "id-rep", "lower", "17B")
    writeStatePerson(dir, "dc", "ward.yml", "dc-ward", "legislature", "Ward 3")
    writeStatePerson(dir, "dc", "al.yml", "dc-al", "legislature", "At-Large")
    writeStatePerson(dir, "me", "tribe.yml", "me-tribe", "lower", "Passamaquoddy Tribe")
    writeStatePerson(dir, "vt", "skip.yml", "vt-skip", "upper", "Essex Caledonia")
    writeStatePerson(dir, "pa", "sen.yml", "pa-sen", "upper", "10")
    val out = CivicPipeline.peopleStateFromYaml(spark, s"$dir/*/legislature/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), maMapping)
    val byId = out.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId.keySet == Set("ocd-person/ma-sen", "ocd-person/ma-spec",
      "ocd-person/ne-leg", "ocd-person/id-rep", "ocd-person/dc-ward",
      "ocd-person/dc-al", "ocd-person/pa-sen")) // me tribal + vt dropped
    def area(id: String) = byId(s"ocd-person/$id").getAs[String]("constituent_area_id")
    def chamber(id: String) = byId(s"ocd-person/$id").getAs[String]("chamber")
    assert(area("ma-sen") == "ocd-division/country:us/state:ma/sldu:d40")
    assert(area("ma-spec") == "ocd-division/country:us/state:ma/sldl:special1")
    assert(area("ne-leg") == "ocd-division/country:us/state:ne/sldu:23")
    assert(chamber("ne-leg") == "Legislature")
    assert(area("id-rep") == "ocd-division/country:us/state:id/sldl:17")
    assert(area("dc-ward") == "ocd-division/country:us/district:dc/ward:3")
    assert(area("dc-al") == "ocd-division/country:us/district:dc")
    assert(chamber("dc-al") == "City Council")
    assert(area("pa-sen") == "ocd-division/country:us/state:pa/sldu:10")
    assert(chamber("pa-sen") == "Senate")
    assert(byId("ocd-person/pa-sen").getAs[String]("jurisdiction_area_id")
      == "ocd-division/country:us/state:pa")
  }

  test("state people pipeline: unmapped MA district raises") {
    val dir = Files.createTempDirectory("statepeople2").toString
    writeStatePerson(dir, "ma", "bad.yml", "ma-bad", "upper", "Nonexistent District")
    val out = CivicPipeline.peopleStateFromYaml(spark, s"$dir/*/legislature/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), maMapping)
    val e = intercept[Exception](out.collect())
    assert(rootCause(e).getMessage.contains("Missing Massachusetts district"),
      s"unexpected: ${rootCause(e).getMessage}")
  }

  test("state people pipeline: unknown role type raises") {
    val dir = Files.createTempDirectory("statepeople3").toString
    writeStatePerson(dir, "ga", "odd.yml", "ga-odd", "czar", "1")
    val out = CivicPipeline.peopleStateFromYaml(spark, s"$dir/*/legislature/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), maMapping)
    val e = intercept[Exception](out.collect())
    assert(rootCause(e).getMessage.contains("Unknown role type"),
      s"unexpected: ${rootCause(e).getMessage}")
  }

  test("district mapping builder normalizes MA names and raises elsewhere") {
    val areas = Seq(
      ("ocd-division/country:us/state:ma/sldu:d40", "25", "Massachusetts Cape and Islands District"))
      .toDF("id", "fips_code", "name")
    val m = CivicPipeline.districtMappingFromAreas(areas, "upper").collect()(0)
    assert(m.getAs[String]("district_name") == "Cape and Islands")
    assert(m.getAs[String]("area_id") == "ocd-division/country:us/state:ma/sldu:d40")
    val bad = Seq(("x", "36", "New York 1st")).toDF("id", "fips_code", "name")
    val e = intercept[Exception](
      CivicPipeline.districtMappingFromAreas(bad, "upper").collect())
    assert(rootCause(e).getMessage.contains("Unimplemented fips code"))
  }

  test("district mapping: CSV scan -> JSON write -> load feeds the MA branch") {
    val dir = Files.createTempDirectory("distmap").toString
    Files.writeString(Paths.get(dir, "areas.csv"),
      """id,fips_code,name
        |ocd-division/country:us/state:ma/sldu:d40,25,Massachusetts Cape and Islands District
        |ocd-division/country:us/state:ma/sldu:d23,25,Fifth Middlesex District
        |""".stripMargin)
    val areas = DistrictMapping.areasFromCsv(spark, s"$dir/areas.csv")
    val mapping = CivicPipeline.districtMappingFromAreas(areas, "upper")
    val json = s"$dir/state_people_district_mapping.json"
    DistrictMapping.writeJson(mapping, json)
    val loaded = DistrictMapping.readJson(spark, json)
    val got = loaded.orderBy("district_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got == Seq(
      ("ma", "upper", "Cape and Islands", "ocd-division/country:us/state:ma/sldu:d40"),
      ("ma", "upper", "Fifth Middlesex", "ocd-division/country:us/state:ma/sldu:d23")))
    // the loaded frame drives the MA named-district resolution end-to-end
    val pdir = Files.createTempDirectory("distmapPeople").toString
    writeStatePerson(pdir, "ma", "sen.yml", "ma-cape", "upper", "Cape and Islands")
    val out = CivicPipeline.peopleStateFromYaml(spark, s"$pdir/*/legislature/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), loaded)
    assert(out.collect().head.getAs[String]("constituent_area_id")
      == "ocd-division/country:us/state:ma/sldu:d40")
  }

  test("district mapping: duplicate (state, chamber, name) keys raise at write") {
    val dup = Seq(
      ("ma", "upper", "Cape and Islands", "ocd-division/country:us/state:ma/sldu:d40"),
      ("ma", "upper", "Cape and Islands", "ocd-division/country:us/state:ma/sldu:d41"))
      .toDF("state", "chamber", "district_name", "area_id")
    val out = Files.createTempDirectory("distmapDup").resolve("m.json").toString
    val e = intercept[IllegalArgumentException](DistrictMapping.writeJson(dup, out))
    assert(e.getMessage.contains("duplicate district mapping keys"))
    // exact duplicate rows (same key AND same id) are a benign
    // idempotent re-write, like the reference's dict assignment
    val benign = Seq(
      ("ma", "upper", "Cape and Islands", "ocd-division/country:us/state:ma/sldu:d40"),
      ("ma", "upper", "Cape and Islands", "ocd-division/country:us/state:ma/sldu:d40"))
      .toDF("state", "chamber", "district_name", "area_id")
    DistrictMapping.writeJson(benign, out)
    assert(DistrictMapping.readJson(spark, out).count() == 1)
    // the FILE must carry the key once too — duplicate keys are
    // non-standard JSON even though Jackson's last-wins read hides them
    val raw = Files.readString(Paths.get(out))
    assert("Cape and Islands".r.findAllIn(raw).length == 1)
  }

  test("bills + votes pipeline: ids, action dates, semi-join, voter resolution") {
    val dir = Files.createTempDirectory("docs").toString
    Files.writeString(Paths.get(dir, "bill_0001.json"),
      """{
        |  "identifier": "HB 102",
        |  "title": "An Act",
        |  "legislative_session": "119th",
        |  "from_organization": "~{\"classification\": \"upper\"}",
        |  "actions": [
        |    {"date": "2025-01-09T00:00:00+00:00", "description": "introduced"},
        |    {"date": "2025-03-01", "description": "passed"}
        |  ]
        |}""".stripMargin)
    Files.writeString(Paths.get(dir, "vote_event_0001.json"),
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
        |     "voter_id": "~{\"name\": \"Baldwin (D-WI)\"}", "note": ""}
        |  ]
        |}""".stripMargin)
    Files.writeString(Paths.get(dir, "vote_event_0002.json"),
      """{
        |  "identifier": "roll-99",
        |  "legislative_session": "119",
        |  "motion_text": "orphan",
        |  "start_date": "2025-03-02T12:00:00+00:00",
        |  "result": "fail",
        |  "bill": "~{\"identifier\": \"HB 999\"}",
        |  "organization": "~{\"classification\": \"upper\"}",
        |  "votes": []
        |}""".stripMargin)

    val juris = "ocd-division/country:us"
    val bills = CivicPipeline.billsFromJsonDocs(spark, dir, juris)
    val b = bills.head
    // uuid5("HB 102_ocd-division/country:us") must match the Python golden scheme
    assert(b.getAs[String]("id").startsWith("ocd-bill/"))
    assert(b.getAs[String]("session") == "119")
    assert(b.getAs[Timestamp]("first_action_date") == Timestamp.valueOf("2025-01-09 00:00:00"))
    assert(b.getAs[Timestamp]("latest_action_date") == Timestamp.valueOf("2025-03-01 00:00:00"))
    assert(b.getAs[String]("chamber") == "upper")

    val people = Seq(
      ("ocd-person/baldwin", "Tammy Baldwin", "Tammy", "Baldwin",
        "ocd-division/country:us/state:wi", "Senate"))
      .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")
    val (events, dropped) = CivicPipeline.voteEventsFromJsonDocs(spark, dir, bills, people)
    val ev = events.collect()
    assert(ev.length == 1)
    assert(ev(0).getAs[String]("identifier") == "roll-22")
    val votes = ev(0).getSeq[org.apache.spark.sql.Row](ev(0).fieldIndex("votes"))
    assert(votes.head.getAs[String]("voter_id") == "ocd-person/baldwin")
    assert(dropped.collect().map(_.getAs[String]("identifier")).toSeq == Seq("roll-99"))
  }

  test("JSONB passthrough surface: bill, vote, person document columns survive the pipeline") {
    // reference models.py:84-97 (Bill), :114-122 (VoteEvent), :67-73
    // (Person): the warehouse keeps the scraped document columns, not just
    // what the derivations need — a downstream user queries sponsorships,
    // versions, counts, other_names straight off the tables
    val dir = Files.createTempDirectory("docfull").toString
    Files.writeString(Paths.get(dir, "bill_0001.json"),
      """{
        |  "identifier": "HB 7",
        |  "title": "Full Act",
        |  "legislative_session": "119th",
        |  "from_organization": "~{\"name\": \"Senate\", \"classification\": \"upper\"}",
        |  "classification": ["bill"],
        |  "abstracts": [{"abstract": "Does things.", "note": "official"}],
        |  "other_titles": [{"title": "The Things Act", "note": "short"}],
        |  "other_identifiers": ["S. 7"],
        |  "sponsorships": [
        |    {"name": "Baldwin", "classification": "primary", "entity_type": "person", "primary": true},
        |    {"name": "Bennet", "classification": "cosponsor", "entity_type": "person", "primary": false}
        |  ],
        |  "related_bills": [{"identifier": "HB 6", "legislative_session": "118", "relation_type": "companion"}],
        |  "versions": [{"note": "Introduced", "date": "2025-01-09", "links": [{"url": "https://x/v1.pdf", "media_type": "application/pdf"}]}],
        |  "documents": [{"note": "Fiscal note", "date": "2025-01-10", "links": [{"url": "https://x/fn.pdf", "media_type": "application/pdf"}]}],
        |  "citations": [{"publication": "Pub. L.", "citation": "119-1"}],
        |  "sources": [{"url": "https://congress.gov/hb7", "note": "api"}],
        |  "extras": {"source_system": "scraper-v2", "n": 2},
        |  "actions": [
        |    {"date": "2025-01-09T00:00:00+00:00", "description": "introduced", "classification": ["introduction"]}
        |  ]
        |}""".stripMargin)
    Files.writeString(Paths.get(dir, "vote_event_0001.json"),
      """{
        |  "identifier": "roll-7",
        |  "legislative_session": "119",
        |  "motion_text": "passage",
        |  "start_date": "2025-03-01T12:00:00+00:00",
        |  "result": "pass",
        |  "bill": "~{\"identifier\": \"HB 7\"}",
        |  "organization": "~{\"classification\": \"upper\"}",
        |  "motion_classification": ["passage"],
        |  "counts": [{"option": "yes", "value": 61}, {"option": "no", "value": 39}],
        |  "sources": [{"url": "https://senate.gov/roll7", "note": "clerk"}],
        |  "extras": {"session_day": 12},
        |  "votes": [
        |    {"option": "yes", "voter_name": "Baldwin (D-WI)", "voter_id": "", "note": ""}
        |  ]
        |}""".stripMargin)

    val bills = CivicPipeline.billsFromJsonDocs(spark, dir, "ocd-division/country:us")
    val b = bills.head
    assert(b.getAs[String]("canonical_id") == "HB 7")
    assert(b.getAs[String]("legislative_session") == "119th")
    // from_organization keeps the WHOLE object (not just classification)
    assert(b.getAs[String]("from_organization")
      == """{"name": "Senate", "classification": "upper"}""")
    val spon = b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("sponsorships"))
    assert(spon.map(s => (s.getAs[String]("name"), s.getAs[String]("classification"),
      s.getAs[String]("entity_type"), s.getAs[Boolean]("primary"))) == Seq(
      ("Baldwin", "primary", "person", true), ("Bennet", "cosponsor", "person", false)))
    val vers = b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("versions"))
    assert(vers.map(_.getAs[String]("note")) == Seq("Introduced"))
    assert(vers.head.getSeq[org.apache.spark.sql.Row](2).head.getAs[String]("url")
      == "https://x/v1.pdf")
    assert(b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("documents"))
      .map(_.getAs[String]("note")) == Seq("Fiscal note"))
    assert(b.getSeq[String](b.fieldIndex("other_identifiers")) == Seq("S. 7"))
    assert(b.getSeq[String](b.fieldIndex("classification")) == Seq("bill"))
    assert(b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("abstracts"))
      .map(_.getAs[String]("abstract")) == Seq("Does things."))
    assert(b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("related_bills"))
      .map(_.getAs[String]("relation_type")) == Seq("companion"))
    assert(b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("sources"))
      .map(_.getAs[String]("url")) == Seq("https://congress.gov/hb7"))
    // schemaless columns ride as raw JSON text, byte-identical to the
    // source document (Spark hands back the original subtree text)
    assert(b.getAs[String]("extras") == """{"source_system": "scraper-v2", "n": 2}""")
    assert(b.getAs[String]("citations")
      == """[{"publication": "Pub. L.", "citation": "119-1"}]""")
    val act = b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("actions")).head
    assert(act.getSeq[String](act.fieldIndex("classification")).toSeq == Seq("introduction"))

    val people = Seq(("ocd-person/baldwin", "Tammy Baldwin", "Tammy", "Baldwin",
      "ocd-division/country:us/state:wi", "Senate"))
      .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")
    val (events, _) = CivicPipeline.voteEventsFromJsonDocs(spark, dir, bills, people)
    val ev = events.head
    assert(ev.getSeq[String](ev.fieldIndex("motion_classification")) == Seq("passage"))
    assert(ev.getSeq[org.apache.spark.sql.Row](ev.fieldIndex("counts"))
      .map(c => (c.getAs[String]("option"), c.getAs[Int]("value")))
      == Seq(("yes", 61), ("no", 39)))
    assert(ev.getSeq[org.apache.spark.sql.Row](ev.fieldIndex("sources"))
      .map(_.getAs[String]("url")) == Seq("https://senate.gov/roll7"))
    assert(ev.getAs[String]("extras") == """{"session_day": 12}""")

    // person: other_names flattens to the name list (people_federal.py:116);
    // offices/links/sources typed; ids raw
    val pdir = Files.createTempDirectory("peoplefull").toString
    Files.writeString(Paths.get(pdir, "baldwin.yml"),
      """id: ocd-person/baldwin
        |name: Tammy Baldwin
        |given_name: Tammy
        |family_name: Baldwin
        |email: tb@senate.gov
        |image: https://img/baldwin.jpg
        |other_names:
        |  - name: Tammy S. Baldwin
        |    start_date: '1999-01-01'
        |ids:
        |  twitter: SenatorBaldwin
        |  votesmart: "3470"
        |offices:
        |  - classification: capitol
        |    address: 709 Hart
        |    voice: 202-224-5653
        |links:
        |  - url: https://www.baldwin.senate.gov
        |    note: homepage
        |sources:
        |  - url: https://unitedstates.github.io
        |roles:
        |  - type: upper
        |    district: Wisconsin
        |    jurisdiction: ocd-jurisdiction/country:us/government
        |    start_date: '2023-01-03'
        |    end_date: '2029-01-03'
        |""".stripMargin)
    val p = CivicPipeline.peopleFromYaml(spark, s"$pdir/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), stateNames).head
    assert(p.getSeq[String](p.fieldIndex("other_names")) == Seq("Tammy S. Baldwin"))
    assert(p.getAs[String]("image") == "https://img/baldwin.jpg")
    assert(p.getAs[String]("ids")
      == """{"twitter":"SenatorBaldwin","votesmart":"3470"}""")
    val off = p.getSeq[org.apache.spark.sql.Row](p.fieldIndex("offices")).head
    assert((off.getAs[String]("classification"), off.getAs[String]("address"),
      off.getAs[String]("voice")) == ("capitol", "709 Hart", "202-224-5653"))
    assert(p.getSeq[org.apache.spark.sql.Row](p.fieldIndex("links"))
      .map(l => (l.getAs[String]("url"), l.getAs[String]("note")))
      == Seq(("https://www.baldwin.senate.gov", "homepage")))
    assert(p.getSeq[org.apache.spark.sql.Row](p.fieldIndex("sources"))
      .map(_.getAs[String]("url")) == Seq("https://unitedstates.github.io"))
  }

  test("state bills + votes: identifier-only join, empty-actions, subject guard") {
    val dir = Files.createTempDirectory("statedocs").toString
    // a bill with NO actions — dates must come out null, not crash
    // (reference: bills_state.py:100-105)
    Files.writeString(Paths.get(dir, "bill_0001.json"),
      """{
        |  "identifier": "SB 7",
        |  "title": "Short Act",
        |  "legislative_session": "2025",
        |  "from_organization": "~{\"classification\": \"upper\"}",
        |  "subject": [],
        |  "actions": []
        |}""".stripMargin)
    // a vote event with a DIRECT bill_identifier field and a session that
    // does NOT match the bill's — state mode must still join (identifier
    // only, bills_state.py:161-165)
    Files.writeString(Paths.get(dir, "vote_event_0001.json"),
      """{
        |  "identifier": "sv-1",
        |  "legislative_session": "2026s1",
        |  "motion_text": "passage",
        |  "start_date": "2026-03-01",
        |  "result": "pass",
        |  "bill_identifier": "SB 7",
        |  "organization": "~{\"classification\": \"upper\"}",
        |  "votes": []
        |}""".stripMargin)
    val juris = "ocd-division/country:us/state:pa"
    val bills = CivicPipeline.billsFromJsonDocs(spark, dir, juris)
    val b = bills.head
    assert(b.getAs[Timestamp]("first_action_date") == null)
    assert(b.getAs[Timestamp]("latest_action_date") == null)
    val people = Seq(("ocd-person/x", "Some One", "Some", "One",
      "ocd-division/country:us/state:pa", "Senate"))
      .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")
    // federal mode (session in the key) drops the event; state mode keeps it
    val (evFed, droppedFed) =
      CivicPipeline.voteEventsFromJsonDocs(spark, dir, bills, people)
    assert(evFed.count() == 0 && droppedFed.count() == 1)
    val (evState, droppedState) =
      CivicPipeline.voteEventsFromJsonDocs(spark, dir, bills, people, joinOnSession = false)
    val ev = evState.collect()
    assert(ev.length == 1 && droppedState.count() == 0)
    assert(ev(0).getAs[String]("bill_id") == b.getAs[String]("id"))
  }

  test("state bills: non-empty subject raises like the reference") {
    val dir = Files.createTempDirectory("subjdocs").toString
    Files.writeString(Paths.get(dir, "bill_0001.json"),
      """{
        |  "identifier": "SB 8",
        |  "title": "Tagged Act",
        |  "legislative_session": "2025",
        |  "from_organization": "~{\"classification\": \"upper\"}",
        |  "subject": ["taxation"],
        |  "actions": []
        |}""".stripMargin)
    val bills = CivicPipeline.billsFromJsonDocs(spark, dir, "ocd-division/country:us/state:pa")
    val e = intercept[Exception](bills.collect())
    assert(rootCause(e).getMessage.contains("Unhandled bill subject"),
      s"unexpected: ${rootCause(e).getMessage}")
  }

  test("person-zip edges: spatial overlap replaces per-person round-trips") {
    val areas = Seq(
      ("district:a", "congressional_district",
        """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}"""),
      ("zip:1", "zipcode",
        """{"type":"Polygon","coordinates":[[[1,1],[3,1],[3,3],[1,3],[1,1]]]}"""),
      ("zip:2", "zipcode",
        """{"type":"Polygon","coordinates":[[[9,9],[12,9],[12,12],[9,12],[9,9]]]}"""),
      ("zip:3", "zipcode",
        """{"type":"Polygon","coordinates":[[[40,40],[41,40],[41,41],[40,41],[40,40]]]}"""))
      .toDF("id", "classification", "gj")
      .withColumn("geometry", GeoFunctions.stGeomFromGeoJson(col("gj")))
      .drop("gj")
    val people = Seq(("p1", "district:a")).toDF("id", "constituent_area_id")
    val edges = CivicPipeline.personZipEdges(people, areas, cellSize = 5.0)
      .orderBy("area_id").collect()
    assert(edges.map(_.getAs[String]("area_id")).toSeq == Seq("zip:1", "zip:2"))
    assert(edges.forall(_.getAs[String]("relationship_type") == "constituent_area_zip_code"))
  }

  test("ingest: merge into warehouse dir is idempotent across re-runs") {
    val tbl = Files.createTempDirectory("wh").toString + "/areas"
    val b = Seq(("a", 1), ("b", 1)).toDF("id", "v")
    CivicPipeline.ingest(spark, tbl, b, Seq("id"))
    CivicPipeline.ingest(spark, tbl, b, Seq("id")) // re-run, same batch
    val out = spark.read.parquet(tbl)
    assert(out.count() == 2)
  }

  // The swap-loss replay: the unchecked java.io.File spelling silently
  // no-ops the swap from batch 3 on (non-empty `.old` defeats the
  // non-recursive delete, both renameTo calls return false unchecked),
  // freezing the table at the batch-2 generation with no error. Four
  // sequential ingests with per-batch count+value asserts pin the fix.
  test("ingest: four sequential merges all land (checked-swap replay)") {
    val tbl = Files.createTempDirectory("wh").toString + "/areas"
    val batches = Seq(
      Seq(("a", 1), ("b", 1)),          // create
      Seq(("b", 2), ("c", 2)),          // first real merge — creates .old
      Seq(("d", 3)),                    // the batch the unchecked swap lost
      Seq(("a", 4), ("e", 4)))          // and every one after it
    val wantCounts = Seq(2L, 3L, 4L, 5L)
    batches.zip(wantCounts).foreach { case (rows, want) =>
      CivicPipeline.ingest(spark, tbl, rows.toDF("id", "v"), Seq("id"))
      assert(spark.read.parquet(tbl).count() == want,
        s"after batch $rows expected $want rows")
    }
    val fin = spark.read.parquet(tbl).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fin == Map("a" -> 4, "b" -> 2, "c" -> 2, "d" -> 3, "e" -> 4))
  }

  // A process that dies between the two renames of the swap leaves the
  // previous generation at `.old` and no table.
  test("ingest: a swap interrupted between its renames loses no rows") {
    val tbl = Files.createTempDirectory("wh").toString + "/areas"
    CivicPipeline.ingest(spark, tbl, Seq(("a", 1), ("b", 1)).toDF("id", "v"), Seq("id"))
    Files.move(Paths.get(tbl), Paths.get(tbl + ".old"))
    CivicPipeline.ingest(spark, tbl, Seq(("c", 2)).toDF("id", "v"), Seq("id"))
    val fin = spark.read.parquet(tbl).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fin == Map("a" -> 1, "b" -> 1, "c" -> 2))
  }

  test("vote events: a document present twice in one batch keeps its own " +
    "votes in each copy") {
    val dir = Files.createTempDirectory("dupdocs").toString
    Files.writeString(Paths.get(dir, "bill_0001.json"),
      """{"identifier": "HB 102", "title": "An Act", "legislative_session": "119th",
        | "from_organization": "~{\"classification\": \"upper\"}", "actions": []}"""
        .stripMargin)
    val doc =
      """{"identifier": "roll-1", "legislative_session": "119", "motion_text": "passage",
        | "start_date": "2025-03-01T12:00:00+00:00", "result": "pass",
        | "bill": "~{\"identifier\": \"HB 102\"}",
        | "organization": "~{\"classification\": \"upper\"}",
        | "votes": [{"option": "yes", "voter_name": "Baldwin (D-WI)", "voter_id": "x", "note": ""},
        |           {"option": "no", "voter_name": "Nobody (D-WI)", "voter_id": "y", "note": "n"},
        |           {"option": "yes", "voter_name": "Tammy Baldwn", "voter_id": "z", "note": ""}]}"""
        .stripMargin
    // the same event file twice, as a re-delivered document would land
    Seq("vote_event_0001.json", "vote_event_0001_copy.json")
      .foreach(f => Files.writeString(Paths.get(dir, f), doc))
    val people = Seq(("ocd-person/baldwin", "Tammy Baldwin", "Tammy", "Baldwin",
      "ocd-division/country:us/state:wi", "Senate"))
      .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")
    val bills = CivicPipeline.billsFromJsonDocs(spark, dir, "ocd-division/country:us")
    val rows = CivicPipeline.voteEventsFromJsonDocs(spark, dir, bills, people)._1.collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val votes = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("votes"))
        .map(v => (v.getAs[String]("option"), v.getAs[String]("voter_name"),
          v.getAs[String]("voter_id"), v.getAs[String]("note")))
      assert(votes == Seq(
        ("yes", "Baldwin (D-WI)", "ocd-person/baldwin", ""),
        ("no", "Nobody (D-WI)", "y", "n"),
        ("yes", "Tammy Baldwn", "ocd-person/baldwin", "")), votes)
    }
  }

  test("vote-event ingest on the merge path evaluates its inputs once, " +
    "plans no join or exchange and leaves no block set behind") {
    val dir = Files.createTempDirectory("mergedocs").toString
    Files.writeString(Paths.get(dir, "bill_0001.json"),
      """{"identifier": "HB 102", "title": "An Act", "legislative_session": "119th",
        | "from_organization": "~{\"classification\": \"upper\"}", "actions": []}"""
        .stripMargin)
    Seq(1, 2).foreach { i =>
      Files.writeString(Paths.get(dir, s"vote_event_000$i.json"),
        s"""{"identifier": "roll-$i", "legislative_session": "119", "motion_text": "passage",
          | "start_date": "2025-03-0${i}T12:00:00+00:00", "result": "pass",
          | "bill": "~{\\"identifier\\": \\"HB 102\\"}",
          | "organization": "~{\\"classification\\": \\"upper\\"}",
          | "votes": [{"option": "yes", "voter_name": "Baldwin (D-WI)", "voter_id": "x", "note": ""},
          |           {"option": "no", "voter_name": "Nobody (D-WI)", "voter_id": "y", "note": ""}]}"""
          .stripMargin)
    }
    val root = Files.createTempDirectory("wh").toString
    val bills = s"$root/bills"
    CivicPipeline.ingest(spark, bills,
      CivicPipeline.billsFromJsonDocs(spark, dir, "ocd-division/country:us"), Seq("id"))
    val people = Seq(("ocd-person/baldwin", "Tammy Baldwin", "Tammy", "Baldwin",
      "ocd-division/country:us/state:wi", "Senate"))
      .toDF("id", "name", "first_name", "last_name", "constituent_area_id", "chamber")
    def events() = CivicPipeline.voteEventsFromJsonDocs(
      spark, dir, spark.read.parquet(bills), people)._1
    val tbl = s"$root/vote_events"
    CivicPipeline.ingest(spark, tbl, events(), Seq("id")) // first write
    def generation() = spark.read.parquet(tbl).collect().map(_.toString).sorted.toSeq
    val first = generation()
    assert(first.size == 2 && first.forall(_.contains("ocd-person/baldwin")), first)
    def blockSets() = spark.sparkContext.getPersistentRDDs.keySet

    val (held, rec) = QueryMetrics.capture(spark) {
      val ev = events()
      val before = blockSets()
      CivicPipeline.ingest(spark, tbl, ev, Seq("id"))
      (before, blockSets())
    }
    assert(held._2 == held._1, "the merge left a block set behind")
    assert(generation() == first, "re-ingesting the same batch changed the table")

    def fsScan(p: LogicalPlan) = p match {
      case r: LogicalRelation => Some(r.relation).collect { case h: HadoopFsRelation => h }
      case _ => None
    }
    val tablePath = new org.apache.hadoop.fs.Path(tbl).toUri.getPath
    val writes = rec.executions.filter(_.qe.optimizedPlan.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand
        if w.outputPath.toUri.getPath == tablePath + ".tmp" => w
    }.nonEmpty)
    assert(writes.size == 1, rec.executions.map(_.funcName))
    val leaves = writes.head.qe.optimizedPlan.collectLeaves()
    val foreign = leaves.filter {
      case _: LogicalRDD => false
      case p => !fsScan(p).exists(_.location.rootPaths.map(_.toUri.getPath) == Seq(tablePath))
    }
    assert(foreign.isEmpty, "the write's plan reads more than the table: " +
      foreign.map(p => fsScan(p).fold(p.nodeName)(_.location.rootPaths.mkString(","))))
    // the batch's keys drop from the table as a literal filter: the
    // write joins nothing and moves no row between tasks, so it is not
    // even an adaptive plan (whose final plan the walk also enters)
    val planned = new AdaptiveSparkPlanHelper {}.collect(writes.head.qe.executedPlan) {
      case p @ (_: BaseJoinExec | _: Exchange | _: AdaptiveSparkPlanExec) => p.nodeName
    }
    assert(planned.isEmpty, writes.head.qe.executedPlan.treeString)
    val voteDocScans = rec.executions.flatMap(_.qe.optimizedPlan.collectLeaves().flatMap(fsScan))
      .count(_.options.get("pathGlobFilter").exists(_.startsWith("vote_event")))
    assert(voteDocScans == 1, s"vote documents scanned $voteDocScans times")
    // votes resolve inside their event rows: no execution explodes the
    // ballots or ranks candidates in a window
    val perVote = rec.executions.flatMap(x => x.qe.sparkPlan.collect {
      case p @ (_: WindowExec | _: GenerateExec) => s"${x.funcName}: ${p.nodeName}"
    })
    assert(perVote.isEmpty, perVote)

    // a batch that throws while it is pinned: no swap, no block set
    val bad = events().withColumn("motion_text", raise_error(lit("planted batch failure")))
    val before = blockSets()
    val e = intercept[Exception](CivicPipeline.ingest(spark, tbl, bad, Seq("id")))
    assert(rootCause(e).getMessage.contains("planted batch failure"), e)
    assert(blockSets() == before, "the failed merge left a block set behind")
    assert(generation() == first, "the failed merge changed the table")
  }

  test("ingest refuses a batch that carries one key twice, before any swap") {
    val tbl = Files.createTempDirectory("wh").toString + "/areas"
    CivicPipeline.ingest(spark, tbl, Seq(("a", 1)).toDF("id", "v"), Seq("id"))
    def generation() = spark.read.parquet(tbl).collect().map(_.toString).sorted.toSeq
    val first = generation()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // null keys are exempt, as in the anti-join: only "b" repeats
    val twice = Seq(("b", 1), (null, 2), ("b", 2), (null, 3)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      CivicPipeline.ingest(spark, tbl, twice, Seq("id")))
    assert(e.getMessage.contains("(id=b)"), e.getMessage)
    assert(generation() == first, "the refused batch changed the table")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the refused batch left a block set behind")
  }

  test("ingest upserts a built batch into a table in two jobs and one file") {
    // the civic ingest and the stream's micro-batch sink
    val writers = Seq[(String, (String, DataFrame) => Unit)](
      "ingest" -> ((tbl, batch) => CivicPipeline.ingest(spark, tbl, batch, Seq("id"))),
      "mergeBatchSink" -> ((tbl, batch) => EventPipeline.mergeBatchSink(tbl, Seq("id"))(batch, 0)))
    for ((name, write) <- writers) {
      val tbl = Files.createTempDirectory("wh").toString + "/areas"
      // a table of four files, and a batch built from a local relation
      (0 until 40).map(i => (s"k$i", i)).toDF("id", "v").repartition(4).write.parquet(tbl)
      val batch = (30 until 50).map(i => (s"k$i", -i)).toDF("id", "v")
      val (_, rec) = QueryMetrics.capture(spark)(write(tbl, batch))
      assert(rec.jobs.size == 2, s"$name: ${rec.jobs.map(_.callSite)}")
      val parts = new java.io.File(tbl).list().filter(_.startsWith("part-"))
      assert(parts.length == 1, s"$name: ${parts.toSeq}")
      val fin = spark.read.parquet(tbl).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(fin == (0 until 50).map(i => s"k$i" -> (if (i < 30) i else -i)).toMap, name)
    }
  }

  // q219 resource contract: repeated summary() calls in one JVM must
  // leave no temp warehouses behind (the previous shutdown-hook design
  // accumulated one live hook + one held dir per invocation), and the
  // result must be run-stable.
  test("CivicE2e.summary is repeatable and leaves no temp dirs behind") {
    def civicDirs(): Set[String] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("civic_e2e")).toSet
    }
    val before = civicDirs()
    val r1 = CivicE2e.summary(spark).collect().map(_.toSeq).toSeq
    val r2 = CivicE2e.summary(spark).collect().map(_.toSeq).toSeq
    assert(r1 == r2, "summary must be deterministic across invocations")
    assert(r1.size == 6)
    assert(civicDirs() == before,
      "summary() must delete its temp warehouse before returning")
  }
}
