package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, LinearRing, Polygon}

import graft.geo.GeoJson

/** Minimal ESRI shapefile reader (.shp geometry + .dbf attributes) — the
  * reference's TIGER ingestion source (reference:
  * scripts/census/federal_house_districts.py:59-66 and the other census
  * scans, which iterate pyshp records positionally).
  *
  * Supports shape types 1 (Point), 5 (Polygon, multi-ring with holes via
  * ring orientation: clockwise = shell, counter-clockwise = hole). DBF
  * field types C (string) and N/F (numeric). Geometry lands as a WKB
  * binary column named `geometry`; DBF attributes keep their field names.
  *
  * v1 parses on the driver and parallelizes the resulting rows — TIGER
  * files are per-state and comfortably driver-sized; a DataSource V2
  * split-per-record reader is the upgrade path if shapefiles ever become
  * the large side. */
object Shapefile {

  private val gf = new GeometryFactory()

  case class DbfField(name: String, fieldType: Char, length: Int, decimals: Int)

  def read(spark: SparkSession, shpPath: String): DataFrame = {
    val base = shpPath.stripSuffix(".shp")
    val geoms = readShp(Files.readAllBytes(Paths.get(base + ".shp")))
    val (fields, records) = readDbf(Files.readAllBytes(Paths.get(base + ".dbf")))
    require(geoms.length == records.length,
      s"shp has ${geoms.length} shapes but dbf has ${records.length} records")

    val rows = records.zip(geoms).map { case (rec, geom) =>
      Row.fromSeq(rec :+ geom)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), schema(fields))
  }

  /** Row schema for these DBF fields: N/F → Long (Double with decimals),
    * others → String, then the WKB `geometry` column. */
  def schema(fields: Seq[DbfField]): StructType =
    StructType(fields.map { f =>
      f.fieldType match {
        case 'N' | 'F' =>
          if (f.decimals > 0) StructField(f.name, DoubleType) else StructField(f.name, LongType)
        case _ => StructField(f.name, StringType)
      }
    } :+ StructField("geometry", BinaryType))

  /** Parse .shp → one WKB per record (null shape → null). */
  private[sources] def readShp(bytes: Array[Byte]): Array[Array[Byte]] = {
    val buf = ByteBuffer.wrap(bytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    require(buf.getInt(0) == 9994, "not a shapefile (bad magic)")
    val fileLenBytes = buf.getInt(24) * 2
    var pos = 100
    val out = Array.newBuilder[Array[Byte]]
    while (pos < fileLenBytes) {
      val contentLen = buf.getInt(pos + 4) * 2 // record header: number, length (BE)
      val content = ByteBuffer.wrap(bytes, pos + 8, contentLen).order(ByteOrder.LITTLE_ENDIAN)
      out += parseShape(content)
      pos += 8 + contentLen
    }
    out.result()
  }

  private def parseShape(b: ByteBuffer): Array[Byte] = {
    val base = b.position()
    b.getInt(base) match {
      case 0 => null // null shape
      case 1 => // point
        GeoJson.pointWkb(b.getDouble(base + 4), b.getDouble(base + 12))
      case 5 => // polygon: box(32) + numParts + numPoints + parts + points
        val numParts = b.getInt(base + 36)
        val numPoints = b.getInt(base + 40)
        val partIdx = (0 until numParts).map(i => b.getInt(base + 44 + i * 4))
        val ptsBase = base + 44 + numParts * 4
        val pts = (0 until numPoints).map { i =>
          new Coordinate(b.getDouble(ptsBase + i * 16), b.getDouble(ptsBase + i * 16 + 8))
        }
        val rings = partIdx.zipWithIndex.map { case (start, i) =>
          val end = if (i + 1 < numParts) partIdx(i + 1) else numPoints
          gf.createLinearRing(pts.slice(start, end).toArray)
        }
        GeoJson.toWkb(buildPolygons(rings))
      case other =>
        throw new IllegalArgumentException(s"unsupported shape type $other")
    }
  }

  /** ESRI ring orientation: clockwise = exterior shell, counter-clockwise
    * = hole; holes attach to the first shell whose envelope contains them. */
  private def buildPolygons(rings: Seq[LinearRing]) = {
    def isClockwise(r: LinearRing): Boolean = {
      val cs = r.getCoordinates
      var area = 0.0
      var i = 0
      while (i < cs.length - 1) {
        area += (cs(i + 1).x - cs(i).x) * (cs(i + 1).y + cs(i).y)
        i += 1
      }
      area > 0
    }
    val (shells, holes) = rings.partition(isClockwise)
    val effShells = if (shells.isEmpty) rings else shells // degenerate: all CCW
    val effHoles = if (shells.isEmpty) Seq.empty else holes
    val polys: Seq[Polygon] = effShells.map { shell =>
      val myHoles = effHoles.filter(h =>
        shell.getEnvelopeInternal.contains(h.getEnvelopeInternal))
      gf.createPolygon(shell, myHoles.toArray)
    }
    if (polys.length == 1) polys.head else gf.createMultiPolygon(polys.toArray)
  }

  /** Parse .dbf → (fields, records). C fields → trimmed String, N/F →
    * Long or Double (decimals > 0), blanks → null. */
  private[sources] def readDbf(bytes: Array[Byte]): (Seq[DbfField], Array[Seq[Any]]) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = buf.getInt(4)
    val headerSize = buf.getShort(8) & 0xffff
    val recordSize = buf.getShort(10) & 0xffff
    val fields = Iterator.from(0)
      .map(i => 32 + i * 32)
      .takeWhile(off => off < headerSize && bytes(off) != 0x0d)
      .map { off =>
        val nameEnd = (off until off + 11).find(bytes(_) == 0).getOrElse(off + 11)
        DbfField(
          new String(bytes, off, nameEnd - off, "ASCII"),
          bytes(off + 11).toChar,
          bytes(off + 16) & 0xff,
          bytes(off + 17) & 0xff)
      }.toSeq
    val records: Array[Seq[Any]] = (0 until numRecords).map { r =>
      val recOff = headerSize + r * recordSize
      var fOff = recOff + 1 // skip deletion flag
      fields.map { f =>
        val raw = new String(bytes, fOff, f.length, "ASCII").trim
        fOff += f.length
        val v: Any = f.fieldType match {
          case 'N' | 'F' =>
            if (raw.isEmpty) null
            else if (f.decimals > 0) java.lang.Double.valueOf(raw)
            else java.lang.Long.valueOf(raw)
          case _ => raw
        }
        v
      }
    }.toArray
    (fields, records)
  }
}
