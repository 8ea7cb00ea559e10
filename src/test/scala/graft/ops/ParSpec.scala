package graft.ops

import graft.SparkTestBase

/** [[Par]] arms run on a shared pool whose threads inherit Spark local
  * properties only when they are created; the arms must still submit
  * their jobs under the caller's properties (job tags, descriptions). */
class ParSpec extends SparkTestBase {

  test("arm jobs carry the caller's job tag on a warm pool") {
    val sc = spark.sparkContext
    def arms(n: Int) = (0 until n).map(i => () => spark.range(100 + i).toDF("id"))
    Par.pinAll(arms(8): _*) // every pool thread now exists, created untagged
    sc.addJobTag("par-probe")
    val tags =
      try QueryMetrics.capture(spark)(Par.pinAll(arms(4): _*))._2.jobs.map(_.tags)
      finally sc.removeJobTag("par-probe")
    assert(tags.size >= 4, s"expected one job per arm, saw ${tags.size}")
    assert(tags.forall(_.contains("par-probe")),
      s"arm jobs without the caller's tag: $tags")
  }
}
