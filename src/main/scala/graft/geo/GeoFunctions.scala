package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Column-level geospatial functions backed by JTS, mirroring the PostGIS
  * surface the reference uses (reference: scripts/census/zip_code_overlap.py:36,
  * federal_house_districts.py:109, nytimes_precincts.py:66-70).
  *
  * Geometry columns are WKB `BinaryType`. These are Scala UDFs (not
  * codegen'd Catalyst expressions) — acceptable because geo predicates run
  * once per candidate pair after the grid-cell equi-join prunes the space
  * (see [[SpatialJoin]]); they are never in a full-scan hot loop.
  */
object GeoFunctions {

  // raw lambdas exposed separately from the Column-level udf() wrappers:
  // GraftExtensions registers them as catalyst ScalaUDFs for the SQL
  // surface (the Column⇄Expression bridge cannot evaluate a UDF COLUMN
  // node built outside the analyzer)
  private[graft] val geomFromGeoJsonFn = (s: String) =>
    if (s == null) null else GeoJson.toWkb(GeoJson.parse(s))
  private val geomFromGeoJsonUdf = udf(geomFromGeoJsonFn)

  private[graft] val pointFn = (x: Double, y: Double) => GeoJson.pointWkb(x, y)
  private val pointUdf = udf(pointFn)

  private[graft] val intersectsFn = (a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) false
    else GeoJson.fromWkb(a).intersects(GeoJson.fromWkb(b))
  private val intersectsUdf = udf(intersectsFn)

  private[graft] val containsFn = (a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) false
    else GeoJson.fromWkb(a).contains(GeoJson.fromWkb(b))

  private[graft] val centroidFn = (a: Array[Byte]) => {
    val c = GeoJson.fromWkb(a).getCentroid
    Seq(c.getX, c.getY)
  }
  private val centroidUdf = udf(centroidFn)

  private[graft] val areaFn = (a: Array[Byte]) => GeoJson.fromWkb(a).getArea
  private val areaUdf = udf(areaFn)

  // SQL-surface variants (GraftExtensions registry): the legacy
  // no-encoder ScalaUDF path skips the analyzer's primitive null
  // guards that the typed udf() wrappers above get for free, so a null
  // double would silently unbox to 0.0 (st_point(NULL, 2) → POINT(0 2))
  // and a null geometry — which st_geomfromgeojson legitimately yields
  // for null input — would NPE the whole query. These box and
  // null-check explicitly, returning SQL NULL like the Column surface.
  private[graft] val pointSqlFn =
    (x: java.lang.Double, y: java.lang.Double) =>
      if (x == null || y == null) null
      else GeoJson.pointWkb(x.doubleValue(), y.doubleValue())
  private[graft] val centroidSqlFn = (a: Array[Byte]) =>
    if (a == null) null
    else { val c = GeoJson.fromWkb(a).getCentroid; Seq(c.getX, c.getY) }
  private[graft] val areaSqlFn = (a: Array[Byte]) =>
    if (a == null) null
    else java.lang.Double.valueOf(GeoJson.fromWkb(a).getArea)

  private val envelopeUdf = udf((a: Array[Byte]) => {
    val e = GeoJson.fromWkb(a).getEnvelopeInternal
    Seq(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  })

  private val coveredCellsUdf = udf((a: Array[Byte], cellSize: Double) => {
    val e = GeoJson.fromWkb(a).getEnvelopeInternal
    val (minCx, maxCx) = (math.floor(e.getMinX / cellSize).toLong,
      math.floor(e.getMaxX / cellSize).toLong)
    val (minCy, maxCy) = (math.floor(e.getMinY / cellSize).toLong,
      math.floor(e.getMaxY / cellSize).toLong)
    for { cx <- minCx to maxCx; cy <- minCy to maxCy } yield (cx, cy)
  })

  /** GeoJSON string (Feature or bare geometry) → WKB. */
  def stGeomFromGeoJson(c: Column): Column = geomFromGeoJsonUdf(c)

  /** (x, y) → WKB point. */
  def stPoint(x: Column, y: Column): Column = pointUdf(x, y)

  /** Exact JTS intersects over two WKB columns. */
  def stIntersects(a: Column, b: Column): Column = intersectsUdf(a, b)

  /** Centroid as array(x, y). */
  def stCentroid(a: Column): Column = centroidUdf(a)

  private val centroidOnceUdf = centroidUdf.asNondeterministic()

  /** [[stCentroid]] marked non-deterministic purely as a CollapseProject
    * barrier: a caller projecting both coordinates via getItem gets ONE
    * WKB deserialization instead of one per coordinate (the value is in
    * fact deterministic; the flag only stops expression duplication). */
  def stCentroidOnce(a: Column): Column = centroidOnceUdf(a)

  /** Cartesian area. */
  def stArea(a: Column): Column = areaUdf(a)

  /** Envelope as array(minx, miny, maxx, maxy). */
  def stEnvelope(a: Column): Column = envelopeUdf(a)

  /** Grid cells (cx, cy) covered by the geometry's envelope — one WKB
    * deserialization per row, emitting the cell keys directly (the
    * four-corner arithmetic stays inside the UDF so Catalyst cannot
    * re-inline the envelope computation per corner). */
  def stCoveredCells(a: Column, cellSize: Column): Column =
    coveredCellsUdf(a, cellSize)
}
