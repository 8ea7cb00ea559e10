package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 shapefile reader: `spark.read.format("shapefile")
  * .load(dirOrFile)` — one input partition per .shp file, schema inferred
  * from the first .dbf, geometry as a WKB `binary` column. The per-file
  * parallelism matches the TIGER layout (one shapefile per state/zip
  * batch, reference: scripts/census/federal_house_districts.py:124-130).
  */
class ShapefileDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "shapefile"

  private def shpFiles(options: CaseInsensitiveStringMap): Seq[Path] = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("shapefile source requires a path"))
    val p = Paths.get(path)
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.filter(_.toString.endsWith(".shp")).toSeq.sortBy(_.toString)
    else Seq(p)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val first = shpFiles(options).headOption.getOrElse(
      throw new IllegalArgumentException("no .shp files found"))
    ShapefileDataSource.schemaFor(first)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ShapefileTable(schema,
      shpFiles(new CaseInsensitiveStringMap(properties)).map(_.toString))

  override def supportsExternalMetadata(): Boolean = false
}

object ShapefileDataSource {
  def schemaFor(shp: Path): StructType = {
    val base = shp.toString.stripSuffix(".shp")
    val (fields, _) = Shapefile.readDbf(Files.readAllBytes(Paths.get(base + ".dbf")))
    Shapefile.schema(fields)
  }
}

class ShapefileTable(schema: StructType, files: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"shapefile(${files.size} files)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toBatch: Batch = new ShapefileBatch(schema, files)
      }
    }
}

case class ShapefilePartition(file: String) extends InputPartition

class ShapefileBatch(schema: StructType, files: Seq[String]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    files.map(ShapefilePartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ShapefileReaderFactory(schema)
}

class ShapefileReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ShapefilePartition].file
    new PartitionReader[InternalRow] {
      // the existing parser does the byte work, running inside the
      // executor task for this file
      private val base = file.stripSuffix(".shp")
      private val geoms = Shapefile.readShp(Files.readAllBytes(Paths.get(base + ".shp")))
      private val (_, records) = Shapefile.readDbf(Files.readAllBytes(Paths.get(base + ".dbf")))
      private var i = -1

      override def next(): Boolean = { i += 1; i < records.length }

      override def get(): InternalRow = {
        val attrs = records(i).zipWithIndex.map { case (v, fi) =>
          (v, schema.fields(fi).dataType) match {
            case (null, _) => null
            case (s: String, StringType) => UTF8String.fromString(s)
            case (l: java.lang.Long, LongType) => l.longValue()
            case (d: java.lang.Double, DoubleType) => d.doubleValue()
            case (other, dt) => throw new IllegalStateException(s"unexpected $other for $dt")
          }
        }
        InternalRow.fromSeq(attrs :+ geoms(i))
      }

      override def close(): Unit = {}
    }
  }
}
