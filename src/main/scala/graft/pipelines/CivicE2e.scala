package graft.pipelines

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.GeoFunctions
import graft.ops.Pin.PinSyntax
import graft.warehouse.Warehouse

/** The reference's flagship composite run end-to-end as ONE driver-surface
  * query (round-6 verdict item 4): S3 YAML people + W2 role resolution +
  * F9 name handling → people; S2 JSON docs → bills (F12 strict dates,
  * F14 pseudo-JSON, uuid5 ids) → vote events (J2 semi-join, J1 voter
  * entity resolution); S1 shapefile + G1 GeoJSON → areas; J3 spatial
  * person↔zip edges; K1/K2 keyed upsert into a five-table warehouse —
  * then one deterministic summary row per table (row count + an
  * order-independent xxhash64 content fingerprint), so a regression
  * anywhere in the chain moves a pinned golden instead of hiding behind
  * green unit tests.
  *
  * Everything is deterministic by construction: fixtures are
  * builder-authored constants, the packaged shapefile ships in
  * resources, ids are uuid5, no builder stamps wall-clock columns, and
  * the bills table is ingested TWICE to exercise the merge path (the
  * upsert is idempotent, so the fingerprint cannot move).
  *
  * Reference shape: scripts/people/people_federal.py,
  * scripts/bills/bills_federal.py, scripts/bills/vote_matching.py,
  * scripts/census/federal_house_districts.py + zip_code_overlap.py. */
object CivicE2e {
  import Fixtures.write

  private def extractResource(res: String, to: Path): Unit = {
    val in = getClass.getResourceAsStream(res)
    require(in != null, s"packaged resource $res missing from classpath")
    try Files.copy(in, to)
    finally in.close()
  }

  def summary(spark: SparkSession): DataFrame = {
    // each invocation builds a fixture set + five-table warehouse under
    // a temp root; the 6-row summary is materialized EAGERLY at the end
    // and the whole tree deleted immediately — the previous
    // shutdown-hook design accumulated one live Thread + one held temp
    // dir per invocation (three bench passes = three hooks), a real
    // leak for any long-lived server calling this repeatedly
    Fixtures.collectedUnder(spark, "civic_e2e")(summaryUnder(spark, _))
  }

  private def summaryUnder(spark: SparkSession, root: Path): DataFrame = {
    import spark.implicits._

    val peopleDir = Files.createDirectory(root.resolve("people"))
    write(peopleDir, "baldwin.yml",
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
    write(peopleDir, "fitzpatrick.yml",
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

    val docsDir = Files.createDirectory(root.resolve("docs"))
    write(docsDir, "bill_0001.json",
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
    write(docsDir, "vote_event_0001.json",
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
        |     "voter_id": "~{\"name\": \"Baldwin (D-WI)\"}", "note": ""},
        |    {"option": "no", "voter_name": "Fitzpatrick",
        |     "voter_id": "", "note": ""}
        |  ]
        |}""".stripMargin)
    // orphan event: its bill is unknown, so J2 must route it to `dropped`
    write(docsDir, "vote_event_0002.json",
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

    val shpDir = Files.createDirectory(root.resolve("shp"))
    extractResource("/shp/districts.shp", shpDir.resolve("districts.shp"))
    extractResource("/shp/districts.dbf", shpDir.resolve("districts.dbf"))

    val stateFips = Seq(("42", "PA", "Pennsylvania"))
      .toDF("fips", "abbreviation", "name")
    val stateNames = Seq(("Wisconsin", "WI"), ("Pennsylvania", "PA"))
      .toDF("state_name", "abbreviation")

    val cds = CivicPipeline.areasFromShapefile(
      spark, s"$shpDir/districts.shp", stateFips)
    // zip polygons tiling the shapefile's (0,0)-(12,12) bbox plus one
    // far tile the spatial join must exclude
    val zips = Seq(
      ("ocd-division/country:us/zipcode:19001", "ZIP 19001",
        """{"type":"Polygon","coordinates":[[[0,0],[6,0],[6,6],[0,6],[0,0]]]}"""),
      ("ocd-division/country:us/zipcode:19002", "ZIP 19002",
        """{"type":"Polygon","coordinates":[[[6,6],[12,6],[12,12],[6,12],[6,6]]]}"""),
      ("ocd-division/country:us/zipcode:99999", "ZIP 99999",
        """{"type":"Polygon","coordinates":[[[40,40],[41,40],[41,41],[40,41],[40,40]]]}"""))
      .toDF("id", "name", "gj")
      .select(col("id"), col("name"), lit("zipcode").as("classification"),
        lit(0L).as("land_area"),
        GeoFunctions.stGeomFromGeoJson(col("gj")).as("geometry"))
    // the three multi-consumer frames are pinned once: people feeds the
    // voter-match projection, the spatial edges, AND its own ingest;
    // bills feeds the vote-event join and two ingests; areas feeds the
    // edges and its ingest — unpinned, each consumer re-ran the whole
    // build (YAML parse + role resolution three times over)
    val areas = cds.unionByName(zips).pinned

    val people = CivicPipeline.peopleFromYaml(spark, s"$peopleDir/*.yml",
      Timestamp.valueOf("2026-01-01 00:00:00"), stateNames).pinned
    val bills = CivicPipeline.billsFromJsonDocs(spark, docsDir.toString,
      "ocd-division/country:us").pinned
    // the reference's match-candidate projection (vote_matching.py
    // first_name/last_name) from the YAML people's given/family names
    val matchPeople = people.select(col("id"), col("name"),
      col("given_name").as("first_name"), col("family_name").as("last_name"),
      col("constituent_area_id"), col("chamber"))
    val (events, dropped) = CivicPipeline.voteEventsFromJsonDocs(
      spark, docsDir.toString, bills, matchPeople)
    val edges = CivicPipeline.personZipEdges(people, areas, cellSize = 5.0)

    val wh = root.resolve("warehouse").toString
    Warehouse.upsert(spark, s"$wh/areas", areas, Seq("id"))
    Warehouse.upsert(spark, s"$wh/people", people, Seq("id"))
    Warehouse.upsert(spark, s"$wh/bills", bills, Seq("id"))
    // second identical upsert: K1 through the checked-FS swap —
    // idempotence means the fingerprint below cannot move
    Warehouse.upsert(spark, s"$wh/bills", bills, Seq("id"))
    Warehouse.upsert(spark, s"$wh/vote_events", events, Seq("id"))
    Warehouse.upsert(spark, s"$wh/person_area_edges", edges,
      Seq("person_id", "area_id"))

    val tables = Seq("areas", "people", "bills", "vote_events",
      "person_area_edges")
    val perTable = tables.map { name =>
      val df = spark.read.parquet(s"$wh/$name")
      // order-independent fingerprint: xor of per-row xxhash64 over the
      // name-sorted column struct (hash covers nested/binary columns)
      df.agg(count(lit(1)).as("n_rows"),
        coalesce(bit_xor(
          xxhash64(struct(df.columns.sorted.map(col): _*))), lit(0L))
          .as("content_hash"))
        .select(lit(name).as("table"), col("n_rows"), col("content_hash"))
    }
    val droppedRow = dropped
      .agg(count(lit(1)).as("n_rows"),
        coalesce(bit_xor(xxhash64(struct(col("id"), col("identifier"),
          col("session"), col("bill_identifier")))), lit(0L))
          .as("content_hash"))
      .select(lit("vote_events_dropped").as("table"), col("n_rows"),
        col("content_hash"))
    (perTable :+ droppedRow).reduce(_.unionByName(_))
      .orderBy(col("table"))
  }
}
