package graft.pipelines

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temp-dir fixtures of the civic queries (q219, q226, q227): each builds
  * a frame over files it writes to a fresh temp dir and returns the rows,
  * collected, so the result never reads the dir, deleted on return. */
private[pipelines] object Fixtures {

  def write(dir: Path, name: String, body: String): Unit =
    Files.writeString(dir.resolve(name), body): Unit

  /** `build` over a fresh temp dir, collected into one partition (fixture
    * frames are a few rows); the dir is deleted also when `build` fails. */
  def collectedUnder(spark: SparkSession, prefix: String)(
      build: Path => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(prefix)
    try {
      val df = build(root)
      val rows = df.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
    } finally deleteRecursively(root.toFile)
  }

  private def deleteRecursively(p: java.io.File): Unit = {
    val kids = p.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    p.delete(): Unit
  }
}
