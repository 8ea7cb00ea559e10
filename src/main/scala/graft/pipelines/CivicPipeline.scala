package graft.pipelines

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions._
import graft.geo.SpatialJoin
import graft.ops.{EntityResolution, Pin, RoleResolution}
import graft.sources.{JsonDocs, Shapefile, YamlSource}
import graft.warehouse.Warehouse

/** The reference's pipelines (SURVEY §3) recomposed as set-oriented
  * Spark jobs over the five warehouse tables. Each builder is
  * DataFrame-in/DataFrame-out; ingestion to the warehouse is a
  * [[Warehouse.mergeByKey]] at the end, in place of the reference's one
  * Postgres round-trip per row. A batch is still several Spark jobs (one
  * per eager pin and per adaptive query stage), but each input is
  * evaluated once per batch: the vote-event build resolves each event's
  * ballots inside its own row against a broadcast one-row roster, and
  * [[ingest]] upserts a batch in two jobs, the pin that also returns
  * the batch's keys and the write, which scans only the table and the
  * pin and plans no join.
  */
object CivicPipeline {

  // -------------------------------------------------------------------
  // Areas from TIGER-style shapefiles
  // (reference: scripts/census/federal_house_districts.py)
  // -------------------------------------------------------------------

  /** stateFips: broadcastable lookup (fips, abbreviation, name). */
  def areasFromShapefile(spark: SparkSession, shpPath: String,
      stateFips: DataFrame): DataFrame = {
    val raw = Shapefile.read(spark, shpPath)
    raw
      .filter(!col("DIST").cast("string").isin("ZZ", "ZZZ")) // undefined-district sentinels
      .join(broadcast(stateFips), col("STATEFP") === col("fips"))
      .withColumn("district",
        districtNumber(col("abbreviation"), col("DIST").cast("string")))
      .withColumn("id",
        ocdCongressionalDistrict(col("abbreviation"), col("district")))
      .select(col("id"),
        concat(col("name"), lit(" Congressional District "), col("district")).as("name"),
        lit("congressional_district").as("classification"),
        col("ALAND").as("land_area"),
        col("geometry"))
  }

  // -------------------------------------------------------------------
  // People from OpenStates-style YAML
  // (reference: scripts/people/people_federal.py:85-123)
  // -------------------------------------------------------------------

  /** (url, note) link-list shape shared by several passthrough columns
    * (reference: scripts/database/models.py:71-73 links/sources JSONB). */
  private val urlNoteArray = ArrayType(StructType(Seq(
    StructField("url", StringType),
    StructField("note", StringType))))

  val personYamlSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("given_name", StringType),
    StructField("family_name", StringType),
    StructField("email", StringType),
    // JSONB passthrough surface (reference models.py:67-73): typed where
    // the OpenStates YAML shape is fixed; `ids` stays a RAW JSON string
    // (schemaless dict of external identifiers) — Spark's JSON parser
    // captures an object subtree as its JSON text for StringType fields
    StructField("other_names", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("start_date", StringType),
      StructField("end_date", StringType))))),
    StructField("image", StringType),
    StructField("ids", StringType),
    StructField("offices", ArrayType(StructType(Seq(
      StructField("classification", StringType),
      StructField("address", StringType),
      StructField("voice", StringType),
      StructField("fax", StringType))))),
    StructField("links", urlNoteArray),
    StructField("sources", urlNoteArray),
    StructField("roles", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("district", StringType),
      StructField("jurisdiction", StringType),
      StructField("start_date", StringType),
      StructField("end_date", StringType)))))))

  /** The person JSONB/passthrough columns every people pipeline carries to
    * the warehouse (reference models.py:67-73; other_names flattens to the
    * name list exactly like people_federal.py:116). */
  private val personDocColumns: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "other_names" -> transform(col("other_names"), o => o.getField("name")),
    "image" -> col("image"),
    "ids" -> col("ids"),
    "offices" -> col("offices"),
    "links" -> col("links"),
    "sources" -> col("sources"))

  /** stateNames: lookup (state_name, abbreviation) for upper-chamber
    * districts that carry the full state name
    * (reference: scripts/people/people_federal.py:51-54). */
  def peopleFromYaml(spark: SparkSession, yamlGlob: String, asOf: Timestamp,
      stateNames: DataFrame): DataFrame = {
    val raw = YamlSource.read(spark, yamlGlob, personYamlSchema)
    val withRole = RoleResolution.currentRoles(raw, "id", asOf)
      .withColumnRenamed("type", "role_type")
    val people = raw.select("id", "name", "given_name", "family_name", "email",
        "other_names", "image", "ids", "offices", "links", "sources")
      .join(withRole, Seq("id"))
    // constituent area: lower "TX-13" -> state tx cd 13 (at-large alias);
    // upper carries the full state name -> abbrev lookup
    // try_element_at, NOT element_at: downstream joins infer an
    // isnotnull(constituent_area_id) constraint and push it into this
    // union branch, where it can be evaluated BEFORE the role_type
    // conjunct — under ANSI a dash-less upper district ("Wisconsin")
    // then throws INVALID_ARRAY_INDEX out of a row the filter was about
    // to drop anyway. try_element_at keeps the parse null-safe under
    // any conjunct order (a genuinely malformed lower district yields a
    // null area id, the reference's skip behavior).
    val lower = people.filter(col("role_type") === "lower")
      .withColumn("st", lower_(element_at(split(col("district"), "-"), 1)))
      .withColumn("dnum", atLargeAlias(try_element_at(split(col("district"), "-"), lit(2))))
      .withColumn("constituent_area_id",
        concat(lit("ocd-division/country:us/state:"), col("st"),
          lit("/cd:"), lower_(col("dnum"))))
      .withColumn("chamber", lit("House"))
      .drop("st", "dnum")
    val upper = people.filter(col("role_type") === "upper")
      .join(broadcast(stateNames), people("district") === stateNames("state_name"), "left")
      .withColumn("constituent_area_id",
        concat(lit("ocd-division/country:us/state:"), lower_(col("abbreviation"))))
      .withColumn("chamber", lit("Senate"))
      .drop("state_name", "abbreviation")
    val outCols = Seq("id", "name", "given_name", "family_name", "email",
      "constituent_area_id", "jurisdiction_area_id", "chamber", "role_status") ++
      personDocColumns.map(_._1)
    personDocColumns.foldLeft(
      lower.unionByName(upper)
        .withColumn("jurisdiction_area_id", convertAreaId(col("jurisdiction")))) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
      .select(outCols.head, outCols.tail: _*)
  }

  private def lower_(c: org.apache.spark.sql.Column) = lower(c)

  /** States whose district naming scheme has no area-id mapping yet, plus
    * `us` (handled by the federal pipeline)
    * (reference: scripts/people/people_state.py:113-127). */
  val SkippedStateDirs: Seq[String] = Seq("vt", "nh", "pr", "nd", "us")

  /** State-legislature people (reference: scripts/people/people_state.py:26-148).
    *
    * `districtMapping`: rows (state, chamber, district_name, area_id) — the
    * flattened named-district lookup (MA in the reference's
    * reference_data/state_people_district_mapping.json; rows from its
    * "special" section carry chamber = "special"). Broadcast — it is a few
    * hundred rows per named-district state.
    *
    * Branch semantics, all plan-side (no driver loop over people):
    *  - skip-list states filtered by source directory (:122-127);
    *  - ME "Passamaquoddy Tribe" non-voting reps dropped (:30-32);
    *  - MA named districts resolved chamber-first, then "special"; an
    *    unmapped MA district RAISES (the reference's RuntimeError) via
    *    `raise_error` on the offending row (:61-73);
    *  - DC At-Large/Chairman → the whole district, Ward N → ward:n (:77-83);
    *  - NE unicameral "legislature" → sldu (:86-87);
    *  - ID lower keeps digits only (:89-92);
    *  - default upper/lower → sldu/sldl lowercased (:94-98); an unknown
    *    role type raises (:100);
    *  - chamber label: DC → City Council, else upper→Senate, lower→House,
    *    legislature→Legislature (:36-47).
    */
  def peopleStateFromYaml(spark: SparkSession, yamlGlob: String, asOf: Timestamp,
      districtMapping: DataFrame): DataFrame = {
    val raw = YamlSource.read(spark, yamlGlob, personYamlSchema)
      .withColumn("state_abbrev",
        regexp_extract(col("source_file"), "([a-z]{2})/legislature/", 1))
      .filter(!col("state_abbrev").isin(SkippedStateDirs: _*))
    val withRole = RoleResolution.currentRoles(raw, "id", asOf)
      .withColumnRenamed("type", "role_type")
    val people = raw
      .select("id", "name", "given_name", "family_name", "email", "state_abbrev",
        "other_names", "image", "ids", "offices", "links", "sources")
      .join(withRole, Seq("id"))
      // null-safe equality: a ME row with a NULL district must NOT be
      // swallowed by three-valued logic — only the named tribal district
      // is skipped (reference: people_state.py:30-32)
      .filter(!((col("state_abbrev") <=> "me") &&
        (col("district") <=> "Passamaquoddy Tribe")))

    val st = col("state_abbrev")
    val chMap = districtMapping.select(
      col("state").as("m_state"), col("chamber").as("m_chamber"),
      col("district_name").as("m_district"), col("area_id").as("m_area"))
    val spMap = districtMapping.filter(col("chamber") === "special").select(
      col("state").as("s_state"), col("district_name").as("s_district"),
      col("area_id").as("s_area"))
    val mapped = people
      .join(broadcast(chMap), st === col("m_state") &&
        col("role_type") === col("m_chamber") &&
        col("district") === col("m_district"), "left")
      .join(broadcast(spMap), st === col("s_state") &&
        col("district") === col("s_district"), "left")

    // coalesce + when evaluate lazily per row, so raise_error fires only
    // for rows that actually fall through every branch
    val maArea = coalesce(col("m_area"), col("s_area"),
      raise_error(concat(lit("Missing Massachusetts district! district: "),
        col("district"))))
    val dcArea = when(col("district").isin("At-Large", "Chairman"),
        lit("ocd-division/country:us/district:dc"))
      .otherwise(concat(lit("ocd-division/country:us/district:dc/ward:"),
        regexp_replace(col("district"), "^Ward ", "")))
    val constituent = when(st === "ma", maArea)
      .when(st === "dc", dcArea)
      .when(st === "ne" && col("role_type") === "legislature",
        concat(lit("ocd-division/country:us/state:ne/sldu:"), lower_(col("district"))))
      .when(st === "id" && col("role_type") === "lower",
        concat(lit("ocd-division/country:us/state:id/sldl:"), digitsOnly(col("district"))))
      .when(col("role_type") === "upper",
        concat(lit("ocd-division/country:us/state:"), st, lit("/sldu:"), lower_(col("district"))))
      .when(col("role_type") === "lower",
        concat(lit("ocd-division/country:us/state:"), st, lit("/sldl:"), lower_(col("district"))))
      .otherwise(raise_error(concat(lit("Unknown role type: "), col("role_type"))))
    val chamber = when(st === "dc", "City Council")
      .when(col("role_type") === "upper", "Senate")
      .when(col("role_type") === "lower", "House")
      .when(col("role_type") === "legislature", "Legislature")

    val outCols = Seq("id", "name", "given_name", "family_name", "email",
      "state_abbrev", "constituent_area_id", "jurisdiction_area_id", "chamber",
      "role_status") ++ personDocColumns.map(_._1)
    personDocColumns.foldLeft(
      mapped
        .withColumn("constituent_area_id", constituent)
        .withColumn("jurisdiction_area_id", convertAreaId(col("jurisdiction")))
        .withColumn("chamber", chamber)) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
      .select(outCols.head, outCols.tail: _*)
  }

  /** K3 — named-district mapping built from an areas frame (reference:
    * scripts/people/people_district_mapping.py:10-35, which walks an areas
    * CSV and emits district_name → area_id JSON). Input rows: (id,
    * fips_code, name). Only MA (fips 25) has a normalization rule; any
    * other fips raises, mirroring the reference. Output: (state, chamber,
    * district_name, area_id) — the shape [[peopleStateFromYaml]] consumes
    * (persisting it as JSON is a one-line driver-side write). */
  def districtMappingFromAreas(areas: DataFrame, chamber: String): DataFrame =
    areas.select(
      lit("ma").as("state"),
      lit(chamber).as("chamber"),
      when(col("fips_code") === "25",
        trim(regexp_replace(regexp_replace(col("name"), "Massachusetts", ""),
          "District", "")))
        .otherwise(raise_error(concat(lit("Unimplemented fips code "), col("fips_code"))))
        .as("district_name"),
      col("id").as("area_id"))

  // -------------------------------------------------------------------
  // Bills + vote events from per-file JSON docs
  // (reference: scripts/bills/bills_federal.py)
  // -------------------------------------------------------------------

  /** (note, date, links[url, media_type]) shape shared by bill versions
    * and documents (reference models.py:92-94). */
  private val versionArray = ArrayType(StructType(Seq(
    StructField("note", StringType),
    StructField("date", StringType),
    StructField("links", ArrayType(StructType(Seq(
      StructField("url", StringType),
      StructField("media_type", StringType))))))))

  val billJsonSchema: StructType = StructType(Seq(
    StructField("identifier", StringType),
    StructField("title", StringType),
    StructField("legislative_session", StringType),
    StructField("from_organization", StringType),
    StructField("subject", ArrayType(StringType)),
    // full JSONB passthrough surface (reference models.py:84-97): typed
    // structs where the scraped-doc shape is fixed; citations/extras are
    // RAW JSON strings (schemaless) — Spark's JSON parser captures an
    // object/array subtree as its JSON text for a StringType field
    StructField("classification", ArrayType(StringType)),
    StructField("abstracts", ArrayType(StructType(Seq(
      StructField("abstract", StringType),
      StructField("note", StringType))))),
    StructField("other_titles", ArrayType(StructType(Seq(
      StructField("title", StringType),
      StructField("note", StringType))))),
    StructField("other_identifiers", ArrayType(StringType)),
    StructField("sponsorships", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("classification", StringType),
      StructField("entity_type", StringType),
      StructField("primary", BooleanType))))),
    StructField("related_bills", ArrayType(StructType(Seq(
      StructField("identifier", StringType),
      StructField("legislative_session", StringType),
      StructField("relation_type", StringType))))),
    StructField("versions", versionArray),
    StructField("documents", versionArray),
    StructField("citations", StringType),
    StructField("sources", urlNoteArray),
    StructField("extras", StringType),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("date", StringType),
      StructField("description", StringType),
      StructField("classification", ArrayType(StringType))))))))

  /** Bills from per-file JSON docs. A bill with no/empty `actions` gets
    * null first/latest action dates (reference:
    * scripts/bills/bills_state.py:100-105), but a non-null MALFORMED
    * action date raises (strict F12, bills_state.py:48-51) — scraped
    * garbage must fail loudly, not become a silent null; a non-empty
    * `subject` raises
    * like the reference's unhandled-case guard (:96-98) — the raise is
    * woven into the `identifier` projection (which `id`, the vote join
    * key, and every downstream consumer derive from), so no column
    * pruning can skip it. */
  def billsFromJsonDocs(spark: SparkSession, dir: String,
      jurisdictionId: String): DataFrame = {
    JsonDocs.read(spark, dir, "bill", billJsonSchema)
      .withColumn("session", digitsOnly(col("legislative_session")))
      .withColumn("identifier",
        when(size(col("subject")) > 0,
          raise_error(concat(lit("Unhandled bill subject for "), col("identifier"))))
          .otherwise(col("identifier")))
      .withColumn("id", billId(col("identifier"), lit(jurisdictionId)))
      .withColumn("action_dates",
        transform(col("actions"),
          a => parseFlexibleTimestampStrict(a.getField("date"))))
      .withColumn("first_action_date", array_min(col("action_dates")))
      .withColumn("latest_action_date", array_max(col("action_dates")))
      .withColumn("chamber",
        parsePseudoJson(col("from_organization"),
          StructType(Seq(StructField("classification", StringType))))
          .getField("classification"))
      // passthrough fidelity (reference models.py:84-97): canonical_id is
      // the raw identifier (bills_federal.py:136), from_organization keeps
      // the FULL pseudo-JSON object as JSON text (the reference stores the
      // whole json.loads'd dict, not just classification)
      .withColumn("canonical_id", col("identifier"))
      .withColumn("from_organization", expr("substr(from_organization, 2)"))
      .select("id", "identifier", "canonical_id", "title", "session",
        "legislative_session", "first_action_date", "latest_action_date",
        "chamber", "from_organization", "classification", "subject",
        "abstracts", "other_titles", "other_identifiers", "actions",
        "sponsorships", "related_bills", "versions", "documents",
        "citations", "sources", "extras")
  }

  val voteEventJsonSchema: StructType = StructType(Seq(
    StructField("identifier", StringType),
    StructField("legislative_session", StringType),
    StructField("motion_text", StringType),
    StructField("start_date", StringType),
    StructField("result", StringType),
    StructField("bill", StringType),
    StructField("bill_identifier", StringType), // state docs carry it directly
    StructField("organization", StringType),
    // JSONB passthrough surface (reference models.py:114-122): counts is
    // the per-option tally list; extras stays a raw JSON string
    StructField("motion_classification", ArrayType(StringType)),
    StructField("counts", ArrayType(StructType(Seq(
      StructField("option", StringType),
      StructField("value", IntegerType))))),
    StructField("sources", urlNoteArray),
    StructField("extras", StringType),
    StructField("votes", ArrayType(StructType(Seq(
      StructField("option", StringType),
      StructField("voter_name", StringType),
      StructField("voter_id", StringType),
      StructField("note", StringType)))))))

  /** Vote events: referential semi-join to known bills (J2; unmatched
    * events become the returned `dropped` frame), then per-vote entity
    * resolution (J1) rewriting voter_id to the matched person id. The
    * votes array is resolved in place ([[EntityResolution.matchVoter]]
    * inside a `transform`), so each kept event is one output row with
    * its own ballots in document order; an unmatched vote keeps its
    * document voter_id and a null votes array becomes the empty one.
    *
    * `joinOnSession`: the federal pipeline keys the bill lookup on
    * (identifier, session); the state pipeline matches on the bill
    * identifier ALONE (reference: scripts/bills/bills_state.py:161-165 —
    * membership in the jurisdiction's `bill_ids` list) and reads the
    * direct `bill_identifier` field instead of the pseudo-JSON `bill`
    * blob (:164). Pass `joinOnSession = false` for state-shaped docs. */
  def voteEventsFromJsonDocs(spark: SparkSession, dir: String,
      bills: DataFrame, people: DataFrame,
      joinOnSession: Boolean = true): (DataFrame, DataFrame) = {
    val raw = JsonDocs.read(spark, dir, "vote_event", voteEventJsonSchema)
      .withColumn("session", digitsOnly(col("legislative_session")))
      .withColumn("bill_identifier",
        coalesce(col("bill_identifier"),
          parsePseudoJson(col("bill"),
            StructType(Seq(StructField("identifier", StringType)))).getField("identifier")))
      .withColumn("chamber",
        parsePseudoJson(col("organization"),
          StructType(Seq(StructField("classification", StringType)))).getField("classification"))
      .withColumn("id", voteEventId(col("identifier")))
    val joinCols =
      if (joinOnSession) Seq("bill_identifier", "session") else Seq("bill_identifier")
    // identifier-only mode: a bill re-filed across sessions maps to the
    // same bill_id (uuid5 of identifier + jurisdiction), so dedupe the
    // lookup to keep the join 1:1
    val billKeys = bills.select(col("identifier").as("bill_identifier"),
      col("session"), col("id").as("bill_id"))
      .select((joinCols :+ "bill_id").map(col): _*)
      .dropDuplicates(joinCols)
    val kept = raw.join(billKeys, joinCols, "inner")
    val dropped = raw.join(billKeys, joinCols, "left_anti")

    // per-vote resolution in place: each event row meets the one-row
    // roster and rewrites its ballots' voter_id, keeping their order
    val out = kept.crossJoin(broadcast(EntityResolution.roster(people)))
      .withColumn("votes", coalesce(
        transform(col("votes"), v => struct(
          v.getField("option").as("option"),
          v.getField("voter_name").as("voter_name"),
          coalesce(EntityResolution.matchVoter(col("roster"),
            v.getField("voter_name"), col("chamber")).getField("person_id"),
            v.getField("voter_id")).as("voter_id"),
          v.getField("note").as("note"))),
        array().cast(
          "array<struct<option:string,voter_name:string,voter_id:string,note:string>>")))
      .select("id", "identifier", "session", "motion_text", "start_date",
        "result", "chamber", "bill_id", "votes",
        "motion_classification", "counts", "sources", "extras")
    (out, dropped.select("id", "identifier", "session", "bill_identifier"))
  }

  // -------------------------------------------------------------------
  // person_area edges via the spatial join
  // (reference: scripts/census/zip_code_overlap.py)
  // -------------------------------------------------------------------

  /** Emit (person_id, area_id, relationship_type) edges for every zip
    * polygon intersecting the person's constituent district — one
    * distributed grid join instead of O(people) PostGIS round-trips. */
  def personZipEdges(people: DataFrame, areas: DataFrame,
      cellSize: Double = 1.0): DataFrame = {
    val districts = areas.filter(col("classification") =!= "zipcode")
      .select(col("id").as("district_id"), col("geometry").as("district_geom"))
    val zips = areas.filter(col("classification") === "zipcode")
      .select(col("id").as("zip_id"), col("geometry").as("zip_geom"))
    val withDistrict = people
      .join(districts, people("constituent_area_id") === districts("district_id"))
      .select(col("id").as("person_id"), col("district_geom"))
    SpatialJoin.intersectsJoin(withDistrict, zips, "district_geom", "zip_geom", cellSize)
      .select(col("person_id"), col("zip_id").as("area_id"),
        lit("constituent_area_zip_code").as("relationship_type"))
  }

  /** Upsert a built batch into the warehouse directory `tablePath` on
    * `keys` (idempotent, last writer wins; reference: the keyed
    * `INSERT … ON CONFLICT DO UPDATE` of database.py:52-73) in two jobs:
    *
    *  1. [[Pin.pinKeyed]] pins the batch, and its job returns the
    *     batch's key tuples. A non-null key tuple present twice is
    *     refused, naming the key, before anything is written, as a bulk
    *     `ON CONFLICT DO UPDATE` refuses to touch one row twice.
    *  2. The write of the new generation. The live table is read with
    *     the schema Spark wrote into its own parquet footer, so no
    *     schema-inference job runs. It keeps every row with a null key
    *     field or a key tuple outside the batch's set (a literal `IN`
    *     filter with the anti-join's null semantics), unioned by name
    *     with the batch, so a schema mismatch fails in `unionByName`.
    *     The result is written as one file per
    *     `spark.sql.files.maxPartitionBytes` of table bytes on disk plus
    *     batch bytes stored, and swapped in by
    *     [[Warehouse.checkedSwapInto]].
    *
    * A first write takes the same path with no table. A preserved column
    * (`created_at`) that both sides carry is taken from the table rows
    * of the batch's own keys, which adds a join. The pin is released
    * whether or not the swap happened. The batch's key set is held on
    * the driver, so it must fit in driver memory: the same bound as a
    * merge that broadcasts the batch's keys to every task. */
  def ingest(spark: SparkSession, tablePath: String, incoming: DataFrame,
      keys: Seq[String]): Unit = {
    val live = Warehouse.liveGeneration(spark, tablePath)
    val batch = Pin.pinKeyed(incoming, keys)
    try {
      refuseRepeatedKeys(tablePath, keys, batch.keys)
      val (merged, tableBytes) =
        if (!live) (batch.frame, 0L)
        else {
          val (table, bytes) = readGeneration(spark, tablePath)
          val owned = ownedBy(keys, batch.keys, StructType(keys.map(batch.frame.schema(_))))
          (table.filter(!owned).unionByName(Warehouse.withPreserved(table.filter(owned),
            batch.frame, keys, preserve = Seq("created_at"))), bytes)
        }
      val split = spark.sessionState.conf.filesMaxPartitionBytes
      val files = math.max(1L, (tableBytes + batch.storedBytes + split - 1) / split)
      val tmp = tablePath + ".tmp"
      merged.coalesce(files.toInt).write.mode("overwrite").parquet(tmp)
      // checked swap (not java.io.File.renameTo, whose silent false-return
      // no-op loses the merge — see Warehouse.checkedSwapInto)
      Warehouse.checkedSwapInto(spark, tablePath, tmp)
    } finally Pin.release(batch.frame)
  }

  private def refuseRepeatedKeys(tablePath: String, keys: Seq[String],
      tuples: Seq[Row]): Unit = {
    val seen = mutable.HashSet.empty[Row]
    tuples.find(!seen.add(_)).foreach { t =>
      throw new IllegalArgumentException(
        s"batch for $tablePath carries key " +
          keys.zip(t.toSeq).map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")") +
          " more than once")
    }
  }

  /** True on a row whose key fields are all non-null and whose key tuple
    * is one of `tuples` (of type `keyType`); false on every other row. */
  private def ownedBy(keys: Seq[String], tuples: Seq[Row], keyType: StructType): Column = {
    val member =
      if (tuples.isEmpty) lit(false)
      else if (keys.size == 1) col(keys.head).isInCollection(tuples.map(_.get(0)))
      else struct(keys.map(col): _*)
        .isInCollection(tuples.map(ColumnBridge.literal(_, keyType)))
    keys.map(col(_).isNotNull).reduce(_ && _) && member
  }

  /** The live generation at `tablePath`, read with [[footerSchema]] of
    * its first part file, and the bytes its part files hold. */
  private def readGeneration(spark: SparkSession, tablePath: String): (DataFrame, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(tablePath)
    val parts = dir.getFileSystem(conf).listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val reader = parts.headOption.flatMap(f => footerSchema(conf, f.getPath))
      .fold(spark.read)(spark.read.schema(_))
    (reader.parquet(tablePath), parts.map(_.getLen).sum)
  }

  /** The row schema Spark wrote into the footer of the parquet file
    * `file` (key `org.apache.spark.sql.parquet.row.metadata`), made
    * nullable as Spark's own read reports it, or None for a file written
    * without it. */
  private[pipelines] def footerSchema(conf: Configuration, file: Path): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(json => ColumnBridge.asNullable(DataType.fromJson(json).asInstanceOf[StructType]))
    finally reader.close()
  }
}
