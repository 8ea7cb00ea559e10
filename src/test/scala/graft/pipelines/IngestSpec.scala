package graft.pipelines

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.ops.Pin
import graft.warehouse.Warehouse

/** `Warehouse.upsert`, the writer behind the civic ingest and the stream
  * sinks, against the lazy operator it replaces there: whatever
  * generation `upsert` leaves must be the rows of `Warehouse.mergeByKey`
  * over the same table and batch. */
class IngestSpec extends SparkTestBase {

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def freshTable(rows: Seq[Row], schema: StructType): String = {
    val path = Files.createTempDirectory("ingest").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(path)
    path
  }

  /** Ingest `batch` into a table holding `table` and compare the new
    * generation with `mergeByKey` computed before the swap. */
  private def checkAgainstOracle(table: Seq[Row], batch: Seq[Row], schema: StructType,
      keys: Seq[String]): Unit = {
    val path = freshTable(table, schema)
    val incoming = spark.createDataFrame(spark.sparkContext.parallelize(batch, 3), schema)
    val want = sorted(Warehouse.mergeByKey(spark.read.parquet(path), incoming, keys,
      preserve = Seq("created_at")))
    Warehouse.upsert(spark, path, incoming, keys)
    assert(sorted(spark.read.parquet(path)) == want, s"keys $keys, batch $batch")
  }

  /** Seeded key tuples: about one in five fields null, non-null tuples
    * unique within a side (a repeated key is refused, not merged). */
  private def keyed(rnd: Random, n: Int, width: Int, pool: Int): Seq[Seq[String]] = {
    val tuples = Seq.fill(n)(Seq.fill(width)(
      if (rnd.nextInt(5) == 0) null else s"k${rnd.nextInt(pool)}"))
    val (withNull, full) = tuples.partition(_.contains(null))
    full.distinct ++ withNull
  }

  private val ts0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  private def rowsOf(rnd: Random, keys: Seq[Seq[String]], stamped: Boolean): Seq[Row] =
    keys.map { k =>
      val v = Seq(rnd.nextInt(1000))
      val c = if (stamped) Seq(new Timestamp(ts0 + rnd.nextInt(1000) * 1000L)) else Nil
      Row.fromSeq(k ++ v ++ c)
    }

  private def schemaOf(keys: Seq[String], stamped: Boolean): StructType =
    StructType(keys.map(StructField(_, StringType)) :+ StructField("v", IntegerType) :++
      (if (stamped) Seq(StructField("created_at", TimestampType)) else Nil))

  test("ingest leaves the generation mergeByKey computes, over seeded random batches") {
    for (seed <- 1 to 12) {
      val rnd = new Random(seed)
      val keys = if (seed % 2 == 0) Seq("person_id", "area_id") else Seq("id")
      val stamped = seed % 3 == 0
      val pool = if (keys.size == 1) 30 else 6
      val table = rowsOf(rnd, keyed(rnd, 25, keys.size, pool), stamped)
      val batch =
        if (seed % 4 == 1) Nil else rowsOf(rnd, keyed(rnd, 12, keys.size, pool), stamped)
      checkAgainstOracle(table, batch, schemaOf(keys, stamped), keys)
    }
  }

  test("ingest keeps created_at from the table rows of the batch's own keys") {
    val schema = schemaOf(Seq("person_id", "area_id"), stamped = true)
    def t(s: Int) = new Timestamp(ts0 + s * 1000L)
    val table = Seq(Row("p1", "a1", 1, t(1)), Row("p1", "a2", 2, t(2)),
      Row("p2", null, 3, t(3)), Row(null, "a1", 4, t(4)))
    val batch = Seq(Row("p1", "a1", 10, t(10)), Row("p2", "a1", 20, t(20)),
      Row("p2", null, 30, t(30)))
    val path = freshTable(table, schema)
    Warehouse.upsert(spark, path,
      spark.createDataFrame(spark.sparkContext.parallelize(batch, 1), schema),
      Seq("person_id", "area_id"))
    assert(sorted(spark.read.parquet(path)) == Seq(
      Row("p1", "a1", 10, t(1)), Row("p1", "a2", 2, t(2)), Row("p2", "a1", 20, t(20)),
      Row("p2", null, 3, t(3)), Row("p2", null, 30, t(30)), Row(null, "a1", 4, t(4)))
      .map(_.toString).sorted)
  }

  test("the footer schema is the schema Spark infers, nested, timed and decimal") {
    val path = Files.createTempDirectory("footer").toString + "/t"
    spark.range(3).select(
      col("id"),
      struct(col("id").cast("string").as("s"),
        struct(lit(1.5).as("d"), array(lit("x")).as("xs")).as("inner")).as("nested"),
      array(struct(col("id").as("n"), lit("y").as("m"))).as("items"),
      map(lit("k"), col("id")).as("attrs"),
      timestamp_seconds(col("id")).as("at"),
      to_date(lit("2026-01-01")).as("day"),
      col("id").cast("decimal(20,4)").as("amount"),
      lit(null).cast("decimal(38,10)").as("none"))
      .write.parquet(path)
    val conf = spark.sessionState.newHadoopConf()
    val part = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
      .map(f => new Path(f.getPath)).head
    val footer = Warehouse.footerSchema(conf, part)
    assert(footer == Some(spark.read.parquet(path).schema), footer)
    assert(footer.map(spark.read.schema(_).parquet(path).schema) == footer)
  }

  test("a table whose file carries no Spark row metadata is read by inference") {
    val path = Files.createTempDirectory("plain").toString + "/t"
    new java.io.File(path).mkdirs()
    val file = new Path(path, "part-00000.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message t { optional binary id (UTF8); optional int32 v; }")
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(file).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq("a" -> 1, "b" -> 2).foreach { case (k, v) =>
      writer.write(groups.newGroup().append("id", k).append("v", v))
    } finally writer.close()
    assert(Warehouse.footerSchema(conf, file).isEmpty)
    import spark.implicits._
    Warehouse.upsert(spark, path, Seq(("b", 20), ("c", 30)).toDF("id", "v"), Seq("id"))
    assert(spark.read.parquet(path).collect().map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("a" -> 1, "b" -> 20, "c" -> 30))
  }

  test("an ingest under reliable checkpointing leaves the same table") {
    val rnd = new Random(7)
    val keys = Seq("person_id", "area_id")
    val schema = schemaOf(keys, stamped = false)
    val table = rowsOf(rnd, keyed(rnd, 25, 2, 6), stamped = false)
    val batch = rowsOf(rnd, keyed(rnd, 12, 2, 6), stamped = false)
    def ingested(): Seq[String] = {
      val path = freshTable(table, schema)
      Warehouse.upsert(spark, path,
        spark.createDataFrame(spark.sparkContext.parallelize(batch, 3), schema), keys)
      sorted(spark.read.parquet(path))
    }
    val local = ingested()
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Pin.DirConf, dir)
    val reliable =
      try ingested()
      finally {
        spark.conf.unset(Pin.DirConf)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    assert(reliable == local)
  }
}
