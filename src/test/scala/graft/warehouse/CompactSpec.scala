package graft.warehouse

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class CompactSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-compact").toString + "/tbl"

  test("compact shrinks a small-file table to the target, rows identical") {
    val dir = freshDir()
    val df = (1L to 5000L).map(i => (i, s"doc-$i", (i % 97).toInt))
      .toDF("id", "text", "grp")
    df.repartition(32).write.parquet(dir) // 32 tiny files
    val before = spark.read.parquet(dir)
      .collect().map(_.getLong(0)).sorted.toSeq

    val (nBefore, nAfter) = Warehouse.compact(spark, dir, targetBytes = 1L << 30)
    assert(nBefore == 32, s"expected 32 input files, saw $nBefore")
    assert(nAfter == 1, s"1 GiB target over a tiny table must yield 1 file: $nAfter")
    val after = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "compaction changed the row set")
    // the generation dirs are gone — no doubled storage, no stray tmp
    val left = Seq(".old", ".tmp", ".compact-old", ".compact-tmp")
      .filter(s => new java.io.File(dir + s).exists())
    assert(left.isEmpty, s"compaction left $left behind")
  }

  test("compact with sortCol restores per-file min/max pruning locality") {
    val dir = freshDir()
    // ids deliberately scattered across files (hash repartition on write)
    (1L to 8000L).map(i => (i, s"d$i")).toDF("id", "text")
      .repartition(16).write.parquet(dir)
    // ~4 output files: pick a target ≈ a quarter of the table
    val total = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val (_, nAfter) = Warehouse.compact(spark, dir, targetBytes = total / 4,
      sortCol = Some("id"))
    assert(nAfter >= 2, s"expected a multi-file layout, got $nAfter")
    // range-partitioned: per-file id intervals must be pairwise disjoint
    val spans = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map { f =>
        val ids = spark.read.parquet(f.getAbsolutePath).agg(
          min(col("id")), max(col("id"))).head()
        (ids.getLong(0), ids.getLong(1))
      }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file spans overlap: ${spans.mkString(", ")}")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == 8000L)
  }

  test("compact rejects a non-positive target and an empty directory") {
    val dir = freshDir()
    Seq((1L, "a")).toDF("id", "t").write.parquet(dir)
    intercept[IllegalArgumentException](Warehouse.compact(spark, dir, 0L))
    val empty = freshDir()
    new java.io.File(empty).mkdirs()
    val e = intercept[IllegalArgumentException](
      Warehouse.compact(spark, empty, 1L << 20))
    assert(e.getMessage.contains("no part files"), e.getMessage)
  }

  /** A table under the `crashfs` scheme ([[CrashingRenameFs]]). */
  private def crashDir(): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashingRenameFs].getName)
    "crashfs://" + freshDir()
  }

  private def rows(dir: String): Map[Long, String] =
    spark.read.parquet(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Run `body` with the `n`th table-swap rename throwing. */
  private def killedAtRename(n: Int)(body: => Unit): Unit = {
    CrashingRenameFs.failAt(n)
    try intercept[java.io.IOException](body)
    finally CrashingRenameFs.failAt(0)
  }

  test("a compaction or upsert killed between its renames loses no row to the next upsert") {
    val table = (1L to 200L).map(i => i -> s"v$i")
    val writers = Seq[(String, String => Unit)](
      "compact" -> (dir => Warehouse.compact(spark, dir, targetBytes = 1L << 30)),
      "upsert" -> (dir => Warehouse.upsert(spark, dir, Seq((1L, "lost")).toDF("id", "v"), Seq("id"))))
    for ((name, write) <- writers) {
      val dir = crashDir()
      Warehouse.upsert(spark, dir, table.toDF("id", "v"), Seq("id"))
      // a second generation, so the killed swap also has an .old to clear
      Warehouse.upsert(spark, dir, Seq((201L, "w")).toDF("id", "v"), Seq("id"))
      // the table moved aside, the new generation not yet in place
      killedAtRename(2)(write(dir))
      Warehouse.upsert(spark, dir, Seq((5L, "new"), (300L, "x")).toDF("id", "v"), Seq("id"))
      assert(rows(dir) == table.toMap ++ Map(201L -> "w", 5L -> "new", 300L -> "x"), name)
    }
  }
}
